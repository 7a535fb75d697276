"""Rebuild the sf1 (10x sf0.1) probe replica set — SCALING.md §Method.

The set is NOT committed (driver-regenerated testdata would rot it);
this script is the recipe, kept in-repo since r12 so it stops living in
/tmp. Three variants, each answering a different scaling question:

  full      (r6/r11)  key-offset replicas; documents rewrite EVERY
                      token t -> t_x{i}. Replicas share zero terms:
                      vocabulary/bucket-count stress. Stopword-driven
                      gates go DEGENERATE here (replicas fail the gate;
                      ppl-cut labels go one-sided) — documented caveat.
  stopword  (r12)     same, but the rewrite skips the pinned
                      EN_STOPWORDS + LANG_MARKERS vocabulary. Preserves
                      stopword-gate selectivity (measured: 39% kept at
                      sf1 vs 63% at sf0.1 — non-degenerate) but NOT the
                      perplexity-cut label: on this corpus's ~uniform
                      31-token vocabulary the content tokens carry ~97%
                      of unigram mass, so every doc's ppl rises ~10x
                      past the cut regardless (measured n_pos=0). Use
                      for gate-selectivity scaling, not ppl labels.
  copy      (r12)     key-offset replicas with IDENTICAL text. The full
                      per-doc quality distribution (gate logits, ppl,
                      DSIR weights, AUC labels) is preserved exactly —
                      the quality-DISTRIBUTION scaling probe. Valid
                      ONLY for distribution-granular entries (gates,
                      perplexity, DSIR, AUC, temperature/waterfill):
                      identical copies give pairwise dedup entries a
                      10-deep cross-replica duplicate structure no real
                      corpus has — never read pairwise numbers off this
                      variant.

Usage: python tools/gen_sf1_replicas.py [full|stopword|copy] [out_dir]
Default out_dir: /tmp/sf1_probe (full) or /tmp/sf1_<variant>.
`full` writes ALL TEN tables (r15: the full-battery sf1 oracle sweep —
VERDICT r14 task 1 — needs the TPC-H side too): documents + events +
embeddings as before, plus key-offset replicas of customer / supplier /
part / orders / lineitem (every *key* column offset by the SAME
i*OFFSET so cross-table joins stay replica-consistent) and verbatim
copies of nation / region (dimension keys are NOT offset, so each
replica joins the same 25/5 dimension rows — their cardinality is
fixed by the TPC-H spec, not by SF). Non-key attributes (names,
segments, dates, prices) repeat across replicas; that merges
name-grained groups 10-deep, which is parity-safe (Spark and DuckDB
read the same parquet) — only read *selectivity* semantics off the
TPC-H replicas, never uniqueness-of-name semantics. The text variants
write documents only (the gate-heavy entries read nothing else).
"""
from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (  # noqa: E402
    EN_STOPWORDS,
    LANG_MARKERS,
)
from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
OFFSET = 100_000_000
N_REPLICAS = 10


def _rewrite(col, i: int, preserve: frozenset[str]):
    def one(w):
        tagged = F.concat(w, F.lit(f"_x{i}"))
        if not preserve:
            return tagged
        return F.when(w.isin(*sorted(preserve)), w).otherwise(tagged)

    return F.array_join(F.transform(F.split(col, " "), one), " ")


def build_documents(spark, variant: str, out: str) -> None:
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    preserve = frozenset()
    if variant == "stopword":
        preserve = frozenset(EN_STOPWORDS) | {
            w for ws in LANG_MARKERS.values() for w in ws
        }
    parts = []
    for i in range(N_REPLICAS):
        off = i * OFFSET
        if i == 0 or variant == "copy":
            parts.append(
                docs.select(
                    (F.col("doc_id") + off).alias("doc_id"),
                    "text",
                    "lang",
                    "source",
                    "n_chars",
                )
            )
        else:
            parts.append(
                docs.select(
                    (F.col("doc_id") + off).alias("doc_id"),
                    _rewrite(F.col("text"), i, preserve).alias("text"),
                    "lang",
                    "source",
                ).withColumn(
                    "n_chars",
                    F.length("text").cast(
                        docs.schema["n_chars"].dataType.simpleString()
                    ),
                )
            )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    print("documents", spark.read.parquet(f"{out}/documents.parquet").count())


def build_keyed(spark, name: str, keys: list[str], cols: list[str], out: str):
    src = spark.read.parquet(f"{SRC}/{name}.parquet")
    parts = []
    for i in range(N_REPLICAS):
        off = i * OFFSET
        sel = [
            (F.col(k) + off).alias(k) if k in keys else F.col(k) for k in cols
        ]
        parts.append(src.select(*sel))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    print(name, spark.read.parquet(f"{out}/{name}.parquet").count())


def main() -> int:
    variant = sys.argv[1] if len(sys.argv) > 1 else "full"
    if variant not in ("full", "stopword", "copy"):
        raise SystemExit(f"unknown variant {variant!r}")
    default_out = "/tmp/sf1_probe" if variant == "full" else f"/tmp/sf1_{variant}"
    out = sys.argv[2] if len(sys.argv) > 2 else default_out
    spark = get_spark(app_name=f"gen_sf1_{variant}")
    build_documents(spark, variant, out)
    if variant == "full":
        build_keyed(
            spark,
            "events",
            ["event_id", "user_id"],
            ["event_id", "ts", "user_id", "event_type", "value", "props"],
            out,
        )
        build_keyed(
            spark, "embeddings", ["vec_id"], ["vec_id", "embedding", "label"], out
        )
        # TPC-H fact/dim replicas (r15): offset every key column by the
        # same per-replica amount so joins stay consistent; nation /
        # region are spec-fixed dimensions, copied verbatim.
        build_keyed(
            spark,
            "customer",
            ["c_custkey"],
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
            out,
        )
        build_keyed(
            spark,
            "supplier",
            ["s_suppkey"],
            ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
            out,
        )
        build_keyed(
            spark,
            "part",
            ["p_partkey"],
            ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
            out,
        )
        build_keyed(
            spark,
            "orders",
            ["o_orderkey", "o_custkey"],
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"],
            out,
        )
        build_keyed(
            spark,
            "lineitem",
            ["l_orderkey", "l_partkey", "l_suppkey"],
            ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
             "l_returnflag", "l_linestatus", "l_shipdate"],
            out,
        )
        for dim in ("nation", "region"):
            spark.read.parquet(f"{SRC}/{dim}.parquet").write.mode(
                "overwrite"
            ).parquet(f"{out}/{dim}.parquet")
            print(dim, spark.read.parquet(f"{out}/{dim}.parquet").count())
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
