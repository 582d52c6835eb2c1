-- exact replication of the langid/quality heuristics
-- (TextFunctions.languageId/qualityScore) in DuckDB SQL: stopword
-- intersect scores per language, struct-argmax tie-broken by
-- lexicographically-largest language, blended quality formula
WITH t AS (
           SELECT text,
             list_filter(string_split(regexp_replace(lower(text),
               '[^\p{L}\p{Nd}'']+', ' ', 'g'), ' '), x -> x <> '') AS toks
           FROM documents
         ), s AS (
           SELECT text, toks,
             CAST(len(list_intersect(toks, ['the','and','of','to','in','is','you','that','it','for','with','was','are','this','have'])) AS DOUBLE) AS s_en,
             CAST(len(list_intersect(toks, ['el','la','de','que','y','en','un','una','los','del','se','las','por','con','para'])) AS DOUBLE) AS s_es,
             CAST(len(list_intersect(toks, ['le','la','de','et','les','des','en','un','du','une','que','est','pour','qui','dans'])) AS DOUBLE) AS s_fr,
             CAST(len(list_intersect(toks, ['der','die','und','das','von','zu','den','mit','ist','des','im','nicht','ein','eine','auf'])) AS DOUBLE) AS s_de,
             CAST((len(string_split(text, '的')) - 1) + (len(string_split(text, '了')) - 1) + (len(string_split(text, '是')) - 1) + (len(string_split(text, '我')) - 1) + (len(string_split(text, '不')) - 1) + (len(string_split(text, '在')) - 1) + (len(string_split(text, '他')) - 1) + (len(string_split(text, '有')) - 1) + (len(string_split(text, '这')) - 1) + (len(string_split(text, '中')) - 1) + (len(string_split(text, '大')) - 1) + (len(string_split(text, '来')) - 1) + (len(string_split(text, '上')) - 1) + (len(string_split(text, '国')) - 1) + (len(string_split(text, '个')) - 1) AS DOUBLE) AS s_zh
           FROM t
         ), lang AS (
           SELECT text, toks,
             CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) <= 0
               THEN 'und'
               ELSE (SELECT l FROM (VALUES ('de', s_de), ('en', s_en),
                 ('es', s_es), ('fr', s_fr), ('zh', s_zh)) AS v(l, sc)
                 ORDER BY sc DESC, l DESC LIMIT 1) END AS lang_id,
             round(
               least(len(toks) / 20.0, 1.0) * 0.3
               + length(regexp_replace(text, '[^\p{L}\s]', '', 'g')) * 1.0
                 / greatest(length(text), 1.0) * 0.3
               + len(list_distinct(toks)) * 1.0
                 / greatest(len(toks), 1.0) * 0.2
               + least(5.0 * len(list_intersect(toks, ['the','and','of','to','in','is','you','that','it','for','with','was','are','this','have','el','la','de','que','y','en','un','una','los','del','se','las','por','con','para','le','et','les','des','du','une','est','pour','qui','dans','der','die','und','das','von','zu','den','mit','ist','im','nicht','ein','eine','auf','的','了','是','我','不','在','他','有','这','中','大','来','上','国','个'])) * 1.0
                   / greatest(len(toks), 1.0), 1.0) * 0.2, 6) AS quality
           FROM s
         )
         SELECT lang_id, count(*) AS n, avg(round(quality, 2)) AS avg_q
         FROM lang GROUP BY lang_id
