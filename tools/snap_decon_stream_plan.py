"""Capture the EXECUTED micro-batch physical plan of
st_decontaminate_stream (VERDICT r14 #4: verify the eval-shingle
broadcast actually appears in the micro-batch plan) into
plans/r15/st_decontaminate_stream_<tag>.txt.

Replicates the operator body but keeps the StreamingQuery handle so
``q.explain()`` (the last micro-batch's plan) can be captured — the
registered function hides the query inside run_to_completion.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from big_data_training_spark import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    spark = get_session("snap_decon_plan")
    spark.sparkContext.setLogLevel("ERROR")
    from big_data_training_spark.extensions.curation import (
        _SHINGLE_PAIR_SCHEMA,
        DECON_K,
        EVAL_PRED,
        _DECON_SHINGLES,
        _decon_shingled,
        _shingle_pair_batches,
    )
    from big_data_training_spark.streaming.replay import (
        read_stream_table,
        reroot,
        scratch_dir,
        source_bytes,
        stream_session,
    )

    eval_sh = (
        _decon_shingled(spark, SF_DIR).filter(EVAL_PRED).select("s").distinct()
    )
    stream = read_stream_table(spark, SF_DIR, "documents")
    if tag == "before":
        # the pre-round-15 HOF-chain train side, kept for plan evidence
        train = (
            stream.repartition(spark.sparkContext.defaultParallelism)
            .filter(f"NOT ({EVAL_PRED})")
            .withColumn(
                "ws", F.expr("filter(split(text, '\\\\s+'), w -> w != '')")
            )
            .filter(F.size("ws") >= DECON_K)
            .withColumn("shingles", F.expr(_DECON_SHINGLES))
            .select("doc_id", F.explode("shingles").alias("s"))
        )
    else:
        train = (
            stream.repartition(spark.sparkContext.defaultParallelism)
            .filter(f"NOT ({EVAL_PRED})")
            .select("doc_id", "text")
            .mapInPandas(_shingle_pair_batches, _SHINGLE_PAIR_SCHEMA)
        )
    hits = (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_shingles"))
    )
    ss = stream_session(spark, trigger_bytes=source_bytes(hits))
    hits = reroot(hits, ss)
    ckpt = scratch_dir("bdts_snap_decon_")
    q = (
        hits.writeStream.outputMode("complete")
        .format("memory")
        .queryName("snap_decon")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        buf = io.StringIO()
        with redirect_stdout(buf):
            q.explain()
        out_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "plans",
            "r15",
        )
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"st_decontaminate_stream_{tag}.txt")
        with open(path, "w") as f:
            f.write(
                f"# st_decontaminate_stream ({tag}) — executed micro-batch"
                f" plan (q.explain) at {SF_DIR}, pin="
                + ss.conf.get("spark.sql.shuffle.partitions")
                + "\n"
            )
            f.write(buf.getvalue())
        print(f"wrote {path}")
    finally:
        q.stop()


if __name__ == "__main__":
    main()
