"""Capture .explain('formatted') for the IVF-PQ / IVF-SQ encode paths
(the r13 projection-encode optimization) into plans/r<round>/, the round
being ``bench.bench_round()`` like ``capture_query_plans.py``.

Reconstructs exactly the DataFrame `write_ivfpq_index` / `write_ivfsq_index`
stage before writing: cell assignment + code computation over the sf
embeddings table — the shape the before/after plan files compare.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from bench import bench_round
from semantic_index_spark.session import get_spark
from semantic_index_spark.operators import similarity as S


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    suffix = sys.argv[1] if len(sys.argv) > 1 else "after"
    spark = get_spark(app_name="encode-plans", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).filter(
        F.col("vec_id") < 400
    )
    from semantic_index_spark.session import collect_bounded

    init = collect_bounded(
        emb.orderBy("vec_id").limit(8), 8, "centroid init"
    )
    centroids = [[float(x) for x in r["embedding"]] for r in init[:4]]
    dim = len(centroids[0])
    m_sub = 4
    subdim = dim // m_sub
    codebooks = [
        [
            [float(x) for x in r["embedding"][s * subdim : (s + 1) * subdim]]
            for r in init
        ]
        for s in range(m_sub)
    ]
    model = {
        "lo": [0.0] * dim,
        "step": [0.01] * dim,
    }

    # the write_ivfpq_index encode stage (cell + long-form codes per row)
    pq_rows = (
        S.ivf_assign(emb, centroids)
        .select(
            F.col("vec_id"),
            F.posexplode(S.pq_codes_array(codebooks)).alias("sub", "code"),
            F.col("_cell"),
        )
    )
    # the write_ivfsq_index encode stage (cell + int8 codes per row)
    sq_rows = (
        S.ivf_assign(emb, centroids)
        .select(
            F.col("vec_id"),
            S.sq_codes_column(model).alias("codes"),
            F.col("_cell"),
        )
    )
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans",
                           f"r{bench_round():02d}")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"ivfpq_encode_{suffix}.txt"), "w") as f:
        f.write(plan_of(pq_rows))
    with open(os.path.join(out_dir, f"ivfsq_encode_{suffix}.txt"), "w") as f:
        f.write(plan_of(sq_rows))
    print("written", out_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
