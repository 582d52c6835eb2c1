SELECT CAST(range AS BIGINT) AS value,
           CAST(range * range AS DOUBLE) AS sq
         FROM range(1, 1001)
