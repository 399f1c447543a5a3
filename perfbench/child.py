"""One benchmark run in a fresh process: session, warm-up, then the job.

    python3 perfbench/child.py <config.json>

Started by ``run.py``, which samples this process tree's memory and checks
the job's output. Steps:

1. start the session with ``session.get_spark``;
2. warm up with ``WARM_CALLS`` calls of the job's public ``main(argv)``
   on a separate, smaller input (JIT, codegen and the Python workers'
   models are then hot before anything is timed);
3. timed calls of ``main(argv)``, each into an empty output dir of its
   own, one after another until the run's seconds are spent (at least
   ``MIN_CALLS``). run.py reports the median call;
4. ``traced`` mode then replays the job as calls into the program's
   public functions with a span around each action, and runs the layer
   suite (each layer timed on its own). No span goes inside the program.

``quality_filter_job.main`` ends with ``spark.stop()``; a second ``main``
after a stopped session fails (``PythonAccumulatorV2 … Broken pipe``). The
session is kept open across the calls (``session_kept_open``) and stopped
once, at the end, so a call's time does not include the stop.

Timestamps are ``time.monotonic()`` seconds, comparable with run.py's.
The result is a JSON file named in the config.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time
from contextlib import contextmanager

from host import reset_peaks
from spans import SqlMetrics, Tracer, total

FILTER_RUN_ID = "perfbench"
DEDUP_RUN_ID = "perfbench-dedup"
DEDUP_THRESHOLD = 0.7  # dedup_job's default --threshold

# Warm-up calls on the warm-up input. The first is cold (session-level
# lazy set-up, the Python workers' models) and takes several times a warm
# call. The calls after it keep getting faster for about four calls, and
# the first call after too short a warm-up is the slowest of a run
# however many docs the warm-up processed: what warms is mostly per call.
WARM_CALLS = 4

# Spans whose durations, summed, account for a traced job's wall: the
# layer suite's layers, the job's own actions that no layer covers, and
# the tracer's metric reads. What is left is job.unattributed_s. It is
# negative when timing the layers one by one costs more than the job's
# single fused plan.
ATTRIBUTED = {
    "filter_fresh": {"scan", "udf", "jvm.heuristics", "jvm.category", "jvm.scrub",
                     "jvm.score_keep", "jvm.token_info", "write", "job.lineage",
                     "job.readback", "job.summary", "trace.sql_metrics"},
    "dedup_minhash": {"scan", "dedup.exact", "dedup.candidates", "dedup.verify",
                      "dedup.survivors_write", "job.count_input", "job.count_kept",
                      "job.report", "trace.sql_metrics"},
}


def _job(root: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --- the job's calls --------------------------------------------------------------

@contextmanager
def session_kept_open():
    """Make ``SparkSession.stop`` a no-op while the job's calls run."""
    from pyspark.sql import SparkSession

    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        yield
    finally:
        SparkSession.stop = stop


def job_argv(dedup: bool, input_dir: str, out: str) -> list[str]:
    return ["--input", input_dir, "--output", out] + (
        ["--method", "minhash", "--run-id", DEDUP_RUN_ID] if dedup
        else ["--run-id", FILTER_RUN_ID])


def timed_calls(job, dedup: bool, cfg: dict) -> list[dict]:
    """cfg["calls"] calls of ``main``, into call-<i> dirs under cfg["out"].
    No call starts after cfg["last_start"]."""
    calls: list[dict] = []
    reset_peaks(os.getpid())
    for i in range(cfg["calls"]):
        out = os.path.join(cfg["out"], f"call-{i}")
        t0 = time.monotonic()
        job.main(job_argv(dedup, cfg["input"], out))
        t1 = time.monotonic()
        calls.append({"out": out, "t0": t0, "t1": t1})
        if t1 >= cfg["last_start"]:
            break
    return calls


# --- traced replay and layer suite ----------------------------------------------

def _rows_written(nodes: list[dict]) -> float:
    return total(nodes, "Execute InsertIntoHadoopFsRelationCommand", "number of output rows")


def _committed_rows_read(nodes: list[dict]) -> float:
    """Rows scanned from committed output: scans that read a doc_id column,
    which the webtext input does not have (plan descriptions truncate
    paths, so the column list identifies the source)."""
    return sum(n.get("number of output rows", 0.0) for n in nodes
               if n["node"].startswith("Scan") and "doc_id#" in n["desc"].split("]", 1)[0])


def traced_filter(spark, cfg: dict, tr: Tracer, sql: SqlMetrics) -> tuple[dict, float]:
    """Replay of quality_filter_job.main, one span per action, then the
    layer suite. Returns (per-layer metrics, replay wall seconds)."""
    from pyspark.sql import functions as F

    from xdan_dqa_spark.config import JobConfig
    from xdan_dqa_spark.functions.category import category_expr
    from xdan_dqa_spark.functions.fused import extract_score_udf
    from xdan_dqa_spark.functions.heuristics import heuristic_columns, words_col
    from xdan_dqa_spark.functions.scrub import scrub_count_cheap, scrub_expr
    from xdan_dqa_spark.functions.tokenize import NONWS_PLUS
    from xdan_dqa_spark.operators.metrics import (
        format_summary_table, partition_metrics, summarize_run,
    )
    from xdan_dqa_spark.operators.resume import committed_ids, resume_filter
    from xdan_dqa_spark.operators.score import dimension_columns, keep_column, weighted_score
    from xdan_dqa_spark.pipeline import score_webtext, with_doc_id

    qcfg = JobConfig().quality
    out_scored, out_metrics = f"{cfg['traced_out']}/scored", f"{cfg['traced_out']}/metrics"
    n_in = cfg["docs"]

    def harvest() -> list[dict]:
        with tr.span("trace.sql_metrics"):
            return sql.collect()

    # Part A: the job, action by action, as main() runs it.
    with tr.span("job"):
        with tr.span("job.plan"):
            df = with_doc_id(spark.read.parquet(cfg["input"]))
            scored = score_webtext(df, qcfg)
        with tr.span("job.score_write"):
            scored.write.mode("append").parquet(out_scored)
        a_write = harvest()
        with tr.span("job.lineage"):
            pm = partition_metrics(scored, FILTER_RUN_ID).persist()
            pm.write.mode("append").parquet(out_metrics)
        a_lineage = harvest()
        with tr.span("job.readback"):
            stats = spark.read.parquet(out_scored).agg(
                F.count("doc_id").alias("n"),
                F.avg(F.col("keep").cast("double")).alias("keep_rate"),
            ).collect()[0]
        a_readback = harvest()
        with tr.span("job.summary"):
            format_summary_table(summarize_run(pm, FILTER_RUN_ID, 0.0))
            pm.unpersist()
        harvest()
    wall = tr.duration("job")
    job_nodes = a_write + a_lineage + a_readback
    n_new = _rows_written(a_write)
    udf = [n for n in job_nodes if n["node"] == "ArrowEvalPython"]
    m = {
        "udf.python_s": sum(n.get("time to run Python workers", 0.0) for n in udf),
        "udf.rows_per_doc": sum(n.get("number of output rows", 0.0) for n in udf) / max(n_new, 1),
        "udf.bytes_sent_per_doc": sum(n.get("data sent to Python workers", 0.0) for n in udf) / max(n_new, 1),
        "write.bytes_per_doc": total(a_write, "Execute InsertIntoHadoopFsRelationCommand",
                                     "written output") / max(n_new, 1),
        "lineage.s": tr.duration("job.lineage"),
        "readback.s": tr.duration("job.readback"),
        "readback.rows_per_new_doc": total(a_readback, "Scan", "number of output rows") / max(n_new, 1),
    }
    if stats["n"] != n_in:
        raise RuntimeError(f"replay committed {stats['n']} docs, input has {n_in}")

    # Part B: each layer as its own action.
    noop = lambda d: d.write.format("noop").mode("overwrite").save()  # noqa: E731
    with tr.span("layers"):
        with tr.span("scan"):
            noop(spark.read.parquet(cfg["input"]))
        m["scan.bytes"] = total(sql.collect(), "Scan", "size of files read")
        m["scan.s"] = tr.duration("scan")
        df = with_doc_id(spark.read.parquet(cfg["input"]))
        # the resume anti-join of this input against the output the job
        # just committed: every id is committed, so nothing survives
        with tr.span("resume"):
            resume_filter(df, committed_ids(spark, out_scored)).count()
        m["resume.committed_rows_read"] = _committed_rows_read(sql.collect())
        m["resume.s"] = tr.duration("resume")
        with tr.span("udf"):
            u = (df.withColumn("_s", extract_score_udf(F.col("html"))).drop("html")
                 .select("*", F.col("_s.extracted_text").alias("extracted_text"),
                         F.col("_s.lang").alias("pred_lang"),
                         F.col("_s.lang_score").alias("lang_score"),
                         F.col("_s.ppl").alias("ppl"))
                 .drop("_s").persist())
            u.count()
        m["udf.s"] = tr.duration("udf")
        text = F.col("extracted_text")
        h = heuristic_columns(text, words=words_col(text))
        with tr.span("jvm.heuristics"):
            noop(u.select(*[v.alias(k) for k, v in h.items()]))
        with tr.span("jvm.category"):
            noop(u.select(category_expr(text).alias("category")))
        with tr.span("jvm.scrub"):
            noop(u.select(text, scrub_expr(text).alias("s")).select(
                "s", scrub_count_cheap(text, F.col("s")).alias("c")))
        # score/keep and token_info read materialized heuristics, category
        # and scrubbed text, as they do inside score_webtext
        with tr.span("jvm.prep"):
            p = u.select("*", *[v.alias(f"_h_{k}") for k, v in h.items()],
                         category_expr(text).alias("category"),
                         scrub_expr(text).alias("scrubbed_text")).persist()
            p.count()
        hp = {k: F.col(f"_h_{k}") for k in h}
        with tr.span("jvm.score_keep"):
            dims = dimension_columns(hp, F.col("pred_lang"), F.col("lang_score"),
                                     F.col("ppl"), F.col("lang"), qcfg)
            noop(p.withColumn("score", weighted_score(dims, qcfg)).select("score", keep_column(
                F.col("score"), F.col("pred_lang"), hp, F.col("lang"), qcfg,
                category=F.col("category")).alias("keep")))
        with tr.span("jvm.token_info"):
            out_tok = F.regexp_count(F.col("scrubbed_text"), F.lit(NONWS_PLUS)).cast("long")
            noop(p.select(F.col("_h_n_words").cast("long").alias("i"), out_tok.alias("o")))
        p.unpersist()
        u.unpersist()
        for fam in ("heuristics", "category", "scrub", "score_keep", "token_info"):
            m[f"jvm.{fam}.s"] = tr.duration(f"jvm.{fam}")
        with tr.span("pipeline"):
            noop(score_webtext(df, qcfg))
        m["pipeline.docs_per_s"] = n_new / tr.duration("pipeline")
        with tr.span("write.prep"):  # the scored rows the job committed, cached
            s = spark.read.parquet(out_scored).persist()
            s.count()
        with tr.span("write"):
            s.write.parquet(os.path.join(cfg["work"], "layer-write"))
        m["write.s"] = tr.duration("write")
        s.unpersist()
        sql.collect()
    return m, wall


def traced_dedup(spark, cfg: dict, tr: Tracer, sql: SqlMetrics) -> tuple[dict, float]:
    """Replay of dedup_job.main --method minhash, one span per action,
    then the dedup stages each timed on its own."""
    from pyspark.sql import functions as F

    from xdan_dqa_spark.operators import dedup as D

    out = os.path.join(cfg["traced_out"], "deduped")
    with tr.span("job"):
        with tr.span("job.plan"):
            docs = spark.read.parquet(cfg["input"])
            kept = D.minhash_dedup(docs, threshold=DEDUP_THRESHOLD)
        with tr.span("job.survivors_write"):
            kept.write.mode("overwrite").parquet(out)
        with tr.span("job.count_input"):
            n_in = docs.count()
        with tr.span("job.count_kept"):
            n_kept = spark.read.parquet(out).count()
        with tr.span("job.report"):
            spark.createDataFrame(
                [(DEDUP_RUN_ID, "minhash", n_in, n_kept, n_in - n_kept,
                  round(1.0 - n_kept / max(n_in, 1), 6), 0.0)],
                "run_id string, method string, n_input long, n_kept long, "
                "n_dropped long, drop_rate double, wall_sec double",
            ).write.mode("overwrite").parquet(os.path.join(cfg["traced_out"], "report"))
        with tr.span("trace.sql_metrics"):
            job_nodes = sql.collect()
    wall = tr.duration("job")
    m = {"dedup.shuffle_bytes": total(job_nodes, "Exchange", "shuffle bytes written")}

    with tr.span("layers"):
        with tr.span("scan"):
            spark.read.parquet(cfg["input"]).write.format("noop").mode("overwrite").save()
        m["scan.bytes"] = total(sql.collect(), "Scan", "size of files read")
        m["scan.s"] = tr.duration("scan")
        docs = spark.read.parquet(cfg["input"])
        with tr.span("dedup.exact"):
            base = D.exact_dedup(docs).persist()
            base.count()
        with tr.span("dedup.candidates"):
            pairs = D.minhash_candidate_pairs(base).persist()
            n_cand = pairs.count()
        with tr.span("dedup.verify"):
            ver = D.jaccard_verify(base, pairs, threshold=DEDUP_THRESHOLD).persist()
            n_ver = ver.count()
        with tr.span("dedup.survivors_write"):
            dups = ver.select(F.col("b").alias("doc_id")).distinct()
            base.join(dups, "doc_id", "left_anti").write.parquet(
                os.path.join(cfg["work"], "layer-write"))
        for d in (ver, pairs, base):
            d.unpersist()
        sql.collect()
    for st in ("exact", "candidates", "verify", "survivors_write"):
        m[f"dedup.{st}.s"] = tr.duration(f"dedup.{st}")
    m.update({"dedup.candidate_pairs": n_cand, "dedup.verified_pairs": n_ver,
              "dedup.pair_precision": n_ver / max(n_cand, 1)})
    return m, wall


def main(config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)
    root = cfg["root"]
    sys.path.insert(0, root)
    res: dict = {"t_start": time.monotonic()}

    from xdan_dqa_spark.session import get_spark

    spark = get_spark(f"perfbench:{cfg['workload']}", extra_conf={
        # The heap is committed at its full size from the start, so peak
        # RSS does not depend on how far it happened to grow; the JVM's
        # scratch files stay inside the work dir.
        "spark.driver.extraJavaOptions": " ".join((
            f"-Xms{os.environ['SPARK_DRIVER_MEM']}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}")),
    })
    res["t_session"] = time.monotonic()
    res["java"] = spark._jvm.System.getProperty("java.version")

    dedup = cfg["workload"] == "dedup_minhash"
    job = _job(root, "dedup_job" if dedup else "quality_filter_job")
    with session_kept_open():
        for i in range(WARM_CALLS):
            job.main(job_argv(dedup, cfg["warm_input"], os.path.join(cfg["work"], f"warm-{i}")))
        res["t_setup"] = time.monotonic()
        res["calls"] = timed_calls(job, dedup, cfg)

    if cfg["mode"] == "traced":
        tr, sql = Tracer(), SqlMetrics(spark)
        res["layers"], res["traced_wall"] = (traced_dedup if dedup else traced_filter)(
            spark, cfg, tr, sql)
        res["job_unattributed_s"] = res["traced_wall"] - sum(
            s["end"] - s["start"] for s in tr.spans if s["name"] in ATTRIBUTED[cfg["workload"]])
        tr.dump(cfg["spans"])
        sql.dump(cfg["sql_nodes"])
    spark.stop()
    res["t_end"] = time.monotonic()
    with open(cfg["result"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
