-- q68 Gopher rules replay: whitespace words, blank lines dropped,
-- normalized-token stop-word membership — each formula mirrors
-- the engine's Column expression operand-for-operand.
WITH g AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> x <> '') AS words,
             list_filter(string_split(text, chr(10)),
               l -> trim(l) <> '') AS lines,
             list_filter(string_split(
               lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
               ' '), x -> x <> '') AS tk,
             CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               AS word_chars,
             CAST(len(regexp_extract_all(text, '#|\.{3}|…')) AS DOUBLE)
               AS n_symbols
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(words) AS BIGINT) AS gopher_n_words,
             round(word_chars /
               greatest(len(words), 1), 6) AS gopher_mean_word_len,
             round(n_symbols /
               greatest(len(words), 1), 6) AS gopher_symbol_ratio,
             round(CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[•\-\*]'))) AS DOUBLE) /
               greatest(len(lines), 1), 6) AS gopher_bullet_ratio,
             round(CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE) /
               greatest(len(lines), 1), 6) AS gopher_ellipsis_ratio,
             round(CAST(len(list_filter(words,
                 w -> regexp_matches(w, '\p{L}'))) AS DOUBLE) /
               greatest(len(words), 1), 6) AS gopher_alpha_ratio,
             CAST((CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'be') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'to') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'of') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'that') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'have') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'with') THEN 1 ELSE 0 END)
               AS BIGINT) AS gopher_stop_hits
           FROM g)
         SELECT *,
           (gopher_n_words BETWEEN 30 AND 100000
            AND gopher_mean_word_len BETWEEN 3 AND 10
            AND gopher_symbol_ratio < 0.1
            AND gopher_bullet_ratio < 0.9
            AND gopher_ellipsis_ratio < 0.3
            AND gopher_alpha_ratio > 0.8
            AND gopher_stop_hits >= 1) AS gopher_keep
         FROM m
