#!/usr/bin/env python
"""Isolated super-scale legs with per-stage breakdown (VERDICT r11 item 1).

WEAK_r11_super64.json recorded q_curation_pipeline_v4 at 105.0 s and
q_hyperplane_lsh_neardup at 90.6 s (64 copies) with no adjudication.
This tool produces the evidence SCALE.md needs to name the mechanism:

  python tools/super_leg.py build  <copies> <dir>   # replica corpus
  python tools/super_leg.py wall   <dir> <query>    # fresh-process wall
  python tools/super_leg.py hyper  <dir>            # hyperplane stages
  python tools/super_leg.py v4     <dir>            # curation-v4 stages

Every invocation is ONE fresh process timing ONE thing (the isolation
protocol from SCALE.md's bench-caveats section: no session accumulation,
no concurrent Spark). Stage rows print as JSON lines; paste into
SCALE.md's adjudication table. Heap sensitivity: re-run with
SPARK_DRIVER_MEM=96g — if a wall collapses, the mechanism is unified-
memory pressure at the default 24g, not plan shape.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geoparquet_python_spark import registry  # noqa: E402
from geoparquet_python_spark.session import get_spark  # noqa: E402


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(label: str, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = round(time.perf_counter() - t0, 2)
    shown = out if isinstance(out, (int, float, str)) else None
    print(json.dumps({"stage": label, "sec": dt, "out": shown}), flush=True)
    return out


def cmd_build(copies: int, out_dir: str) -> None:
    os.environ["WEAK_COPIES"] = str(copies)
    # weak_scaling reads WEAK_COPIES at import time — import after setting.
    from tools import weak_scaling

    weak_scaling.COPIES = copies
    spark = get_spark(f"build{copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    _timed(f"build_{copies}x", lambda: weak_scaling.build_corpus(spark, out_dir))


def cmd_wall(sf_dir: str, name: str, runs: int = 3) -> None:
    registry.load_all()
    spark = get_spark("super-leg")
    spark.sparkContext.setLogLevel("ERROR")
    _force(spark.range(1_000_000).selectExpr("sum(id) AS s"))
    from geoparquet_python_spark.functions.exact import (
        release_dead_checkpoints,
    )

    fn = registry.QUERIES[name]
    best = float("inf")
    for i in range(runs):
        release_dead_checkpoints()  # between runs only (see exact.py)
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        t = time.perf_counter() - t0
        print(json.dumps({"stage": f"{name}_run{i}", "sec": round(t, 2)}), flush=True)
        best = min(best, t)
    print(json.dumps({"stage": f"{name}_wall", "sec": round(best, 2)}), flush=True)


def cmd_hyper(sf_dir: str) -> None:
    """Stage split of q_hyperplane_lsh_neardup: signatures → band join →
    hamming screen → distinct → exact refine, with the pair counts that
    decide whether the 64x wall is candidate volume or memory."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.exact import materialize
    from geoparquet_python_spark.operators import similarity as S

    registry.load_all()
    spark = get_spark("hyper-stages")
    spark.sparkContext.setLogLevel("ERROR")
    _force(spark.range(1_000_000).selectExpr("sum(id) AS s"))

    sig = _timed(
        "signatures_materialize",
        lambda: materialize(S._hyperplane_signatures(spark, sf_dir)),
    )
    fps = [f"fp{k}" for k in range(S._FP_WORDS)]
    band_structs = ", ".join(
        f"struct({j}L AS band, bv{j} AS bval)"
        for j in range(S._N_PLANES // S._BAND_BITS)
    )
    banded = sig.select(
        "vec_id", *fps, F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select(
        "vec_id", *fps,
        F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"),
    )
    la = banded.select(
        F.col("vec_id").alias("vec_a"),
        F.col("band").alias("band_a"),
        F.col("bval").alias("bval_a"),
        *[F.col(f).alias(f"a_{f}") for f in fps],
    )
    lb = banded.select(
        F.col("vec_id").alias("vec_b"),
        F.col("band").alias("band_b"),
        F.col("bval").alias("bval_b"),
        *[F.col(f).alias(f"b_{f}") for f in fps],
    )
    joined = la.join(
        lb,
        (F.col("band_a") == F.col("band_b"))
        & (F.col("bval_a") == F.col("bval_b"))
        & (F.col("vec_a") < F.col("vec_b")),
    )
    ham = sum(F.expr(f"bit_count(a_fp{k} ^ b_fp{k})") for k in range(S._FP_WORDS))
    _timed("n_band_pairs", lambda: joined.count())
    screened = joined.where(ham <= F.lit(S._FP_HAMMING_MAX))
    _timed("n_screened", lambda: screened.count())
    cand = screened.select("vec_a", "vec_b").distinct()
    _timed("n_cand_distinct", lambda: cand.count())
    _timed(
        "full_query",
        lambda: _force(
            registry.QUERIES["q_hyperplane_lsh_neardup"](spark, sf_dir)
        ),
    )


def cmd_v4(sf_dir: str) -> None:
    """Stage split of q_curation_pipeline_v4: shingle explode →
    s-keyed stats + join-back → SemDeDup drop set → full funnel."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.exact import materialize
    from geoparquet_python_spark.functions.text import shingle_rows
    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators import pipeline as P
    from geoparquet_python_spark.operators.semdedup import (
        _TAU,
        _assigned_base,
        _cell_pairs,
    )

    registry.load_all()
    spark = get_spark("v4-stages")
    spark.sparkContext.setLogLevel("ERROR")
    _force(spark.range(1_000_000).selectExpr("sum(id) AS s"))

    d = load_table(spark, sf_dir, "documents")
    ex = _timed(
        "shingle_explode_materialize",
        lambda: materialize(shingle_rows(d)),
    )
    _timed("n_shingle_rows", lambda: ex.count())
    stats_s = ex.groupBy("s").agg(
        F.min("doc_id").alias("fd"),
        F.max((F.col("doc_id") % P._V4_EVAL_MOD == 0).cast("int")).alias(
            "in_bench"
        ),
    )
    doc_stats = (
        ex.join(stats_s, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum("in_bench").alias("n_hits"),
            F.sum(
                F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    _timed("doc_stats_force", lambda: _force(doc_stats))
    base = _timed("assigned_base", lambda: _assigned_base(spark, sf_dir))
    semdrop = (
        _cell_pairs(spark, sf_dir, base=base, min_cosine=_TAU)
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
    )
    _timed("n_semdrop", lambda: semdrop.count())
    _timed(
        "full_query",
        lambda: _force(registry.QUERIES["q_curation_pipeline_v4"](spark, sf_dir)),
    )


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "build":
        cmd_build(int(sys.argv[2]), sys.argv[3])
    elif cmd == "wall":
        cmd_wall(
            sys.argv[2],
            sys.argv[3],
            runs=int(sys.argv[4]) if len(sys.argv) > 4 else 3,
        )
    elif cmd == "hyper":
        cmd_hyper(sys.argv[2])
    elif cmd == "v4":
        cmd_v4(sys.argv[2])
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
