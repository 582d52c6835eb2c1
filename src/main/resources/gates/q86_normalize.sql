WITH prep AS (
           SELECT doc_id, text || ' caf' || decode(from_hex('65CC81'))
             AS text
           FROM documents)
         SELECT doc_id, nfc_normalize(text) AS nfc,
           strip_accents(text) AS bare
         FROM prep
