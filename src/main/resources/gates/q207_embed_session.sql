-- embed via the stub session: pixel (x, y) of the 8×8 fixture is
-- ((seed*1103515245 + x*31 + y*977) >> 8) & 0xffffff (positive
-- operands, so arithmetic >> ≡ the engine's logical >>>), tensor
-- element i is channel i%3 of pixel i//3 (row-major) over 255,
-- and the linear stub maps 2x+1 — double arithmetic on both
-- sides, float-cast once, so the floats match bit-exactly and
-- %.6f of the (exactly widened) float matches on both engines.
-- Serialized to one string per row (house rule — the driver's
-- pandas comparator cannot sort raw array cells).
SELECT doc_id,
           array_to_string(
             [printf('%.6f',
                CAST(2.0 * ((((((doc_id*1103515245
                  + ((i//3)%8)*31 + ((i//3)//8)*977) >> 8) & 16777215)
                  >> (16 - 8*(i%3))) & 255) / 255.0) + 1.0 AS FLOAT))
              for i in range(0, 192)], ',') AS emb_s
         FROM documents
