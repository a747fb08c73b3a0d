"""Generate the pinned numpy-twin goldens for agg_impute_knn/mice/svd.

The driver's correctness gate runs at sf0.01, so the goldens are pinned to
/root/testdata/sf0.01/events.parquet.  The Spark queries are constructed to
be bit-deterministic:

- input  = events with event_id < 2000, sorted by event_id into ONE
  partition (coalesce(1).sortWithinPartitions), so the mapInPandas chunk
  the imputer sees is exactly the frame this script builds;
- value  is nulled at event_id % 10 == 0, feat (= user_id as double) at
  event_id % 7 == 3 — two interleaved-missing columns so KNN actually
  selects donors by distance and MICE actually regresses (a single missing
  column degenerates both to the column-mean fallback);
- the Spark path calls the SAME phenoqc_spark.impute_numpy functions inside
  mapInPandas, so outputs are bit-identical and the goldens can be emitted
  at full double precision (repr round-trip), no rounding-parity games.

Writes goldens/impute_golden.py.  Re-run when the imputer
implementations, the query masks, or the sf0.01 fixture change.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

from phenoqc_spark.impute_numpy import (
    iterative_impute,
    iterative_svd_impute,
    knn_impute,
)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

con = duckdb.connect()
pdf = con.sql(
    f"""
    SELECT event_id,
           CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS value,
           CASE WHEN event_id % 7 = 3 THEN NULL ELSE CAST(user_id AS DOUBLE) END AS feat
    FROM read_parquet('{SF_DIR}/events.parquet')
    WHERE event_id < 2000
    ORDER BY event_id
    """
).df()

ids = pdf["event_id"].to_numpy()
mask = (ids % 10 == 0) | (ids % 7 == 3)
X = pdf[["value", "feat"]].to_numpy(dtype=float)

GOLDENS = {
    "KNN": knn_impute(X, n_neighbors=5),
    "MICE": iterative_impute(X, max_iter=5, random_state=0),
    "SVD": iterative_svd_impute(X, rank=1),
}

out_path = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "goldens",
    "impute_golden.py",
)
with open(out_path, "w") as f:
    f.write(
        '"""Pinned numpy-twin imputation goldens for the sf0.01 driver gate.\n\n'
        "AUTO-GENERATED by scripts/gen_impute_golden.py — do not edit by hand.\n"
        "Rows are (event_id, value_filled, feat_filled) for every event_id < 2000\n"
        "where either column was masked (event_id % 10 == 0 or % 7 == 3);\n"
        "values are full-precision doubles from phenoqc_spark.impute_numpy run\n"
        "on the sorted single-chunk frame the Spark queries feed to mapInPandas.\n"
        '"""\n\n'
    )
    for name, Xf in GOLDENS.items():
        rows = [
            (int(ids[i]), float(Xf[i, 0]), float(Xf[i, 1]))
            for i in range(len(ids))
            if mask[i]
        ]
        f.write(f"{name}_2000 = [\n")
        for r in rows:
            f.write(f"    ({r[0]}, {r[1]!r}, {r[2]!r}),\n")
        f.write("]\n\n")
print(f"wrote {out_path}: " + ", ".join(f"{k}={int(mask.sum())} rows" for k in GOLDENS))
