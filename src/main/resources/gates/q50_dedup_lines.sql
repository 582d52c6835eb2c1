WITH prep AS (
           SELECT doc_id,
             'NAV HOME SEARCH' || chr(10) || text || chr(10) ||
               'copyright footer ' || CAST(doc_id % 5 AS VARCHAR) AS text
           FROM documents),
         split AS (
           SELECT doc_id, string_split(text, chr(10)) AS ls FROM prep),
         lines AS (
           SELECT doc_id, e.i AS idx, e.l AS line FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, len(ls) + 1),
               i -> struct_pack(i := i, l := trim(ls[i])))) AS e
             FROM split)
           WHERE e.l <> ''),
         banned AS (
           SELECT line FROM lines GROUP BY line
           HAVING count(*) >= 4),
         flagged AS (
           SELECT l.doc_id, l.idx, l.line,
             (b.line IS NOT NULL) AS ban
           FROM lines l LEFT JOIN banned b USING (line)),
         keeps AS (
           SELECT doc_id,
             array_to_string(list(line ORDER BY idx), chr(10)) AS clean
           FROM flagged WHERE NOT ban GROUP BY doc_id),
         rem AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN ban THEN 1 ELSE 0 END) AS BIGINT) AS rm
           FROM flagged GROUP BY doc_id)
         SELECT p.doc_id, coalesce(k.clean, '') AS text,
           coalesce(r.rm, 0) AS removed
         FROM prep p
         LEFT JOIN keeps k ON p.doc_id = k.doc_id
         LEFT JOIN rem r ON p.doc_id = r.doc_id
