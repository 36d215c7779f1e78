"""Direct calls into the operator modules' public functions, on the same
inputs the workload's ops read. Each probe builds the operator's output and
forces it with a noop write, so its time is the layer's own work without the
surrounding query. Used by the traced run only."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import functions as F

from etl_ecommerce_data_spark.functions import text as TX
from etl_ecommerce_data_spark.operators import dedup, joins, similarity
from etl_ecommerce_data_spark.sources import read_csv_table
from etl_ecommerce_data_spark.sources.registry import OLIST_SCHEMAS, SYNTHETIC_SCHEMAS, load_table


def _force(*dfs) -> None:
    for df in dfs:
        df.write.mode("overwrite").format("noop").save()


def for_workload(workload: str, spark, star: str, csv: str) -> dict[str, Callable[[], None]]:
    """Metric name → probe for ``workload``; layers a workload does not use
    have no probe there."""

    def docs():
        return load_table(spark, star, "documents")

    def emb():
        return load_table(spark, star, "embeddings")

    def dedup_probe():
        _force(dedup.minhash_lsh_pairs(docs(), threshold=0.6))

    def similarity_probe():
        e = emb()
        _force(
            similarity.lsh_topk(e, e.filter(F.col("vec_id") < 10), k=5, dim=64),
            similarity.embedding_near_dup_pairs(e, threshold=0.4, exact=False, num_bits=48, bands=16),
        )

    def text_probe():
        t = F.col("text")
        _force(docs().select(
            TX.quality_score(t), TX.pii_redact(t), TX.normalize_for_dedup(t), TX.detected_lang(t)
        ))

    def joins_probe():
        events = load_table(spark, star, "events")
        views = events.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_event_id"), "user_id", F.col("ts").alias("view_ts"))
        purchases = events.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("purchase_ts"))
        orders = load_table(spark, star, "orders").select(
            F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate")
        _force(
            joins.range_join(views, purchases, "view_ts", "purchase_ts", 0.0, 1800.0, on="user_id"),
            joins.asof_join(events.select("event_id", "user_id", "ts"), orders, key="user_id",
                            left_time="ts", right_time="o_orderdate",
                            right_cols=["o_orderkey", "o_orderdate"]),
        )

    def star_load_probe():
        _force(*(load_table(spark, star, t) for t in SYNTHETIC_SCHEMAS))

    def csv_load_probe():
        from etl_ecommerce_data_spark.pipeline import OLIST_FILES

        _force(*(
            read_csv_table(spark, os.path.join(csv, f), OLIST_SCHEMAS[t])
            for f, t in OLIST_FILES.items() if os.path.exists(os.path.join(csv, f))
        ))

    def upsert_probe():
        from etl_ecommerce_data_spark.streaming.events import run_foreach_batch_upsert

        _force(run_foreach_batch_upsert(spark, star))

    if workload == "corpus":
        return {
            "operators.dedup.s": dedup_probe,
            "operators.similarity.s": similarity_probe,
            "functions.text.s": text_probe,
        }
    if workload == "marts":
        return {"operators.joins.s": joins_probe, "sources.load_s": star_load_probe}
    return {
        "sources.load_s": csv_load_probe,
        "operators.joins.s": joins_probe,
        "streaming.upsert_s": upsert_probe,
    }
