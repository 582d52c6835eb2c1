SELECT t.token, count(*) AS n
         FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS token
               FROM documents) t
         GROUP BY t.token
