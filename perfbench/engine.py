"""Engine process of the benchmark: the system under test, driven only
through the engine's public surface.

Started by ``perfbench/run.py`` (the load process) from the root of the
checkout. It reports on stdout in lines that start with ``@@PB `` followed
by one JSON object, and, in the ``cdc`` mode, takes one command per stdin
line:

- ``snapshot <dir>``: copy the keyed state between batches
- ``stop``: hand over query progress and the keyed state, stop the query
- ``trace <plan.json>``: replay batches as cumulative layers (traced run)
- ``exit``: stop the session and exit

Modes:

- ``cdc``: build the session, ``runner.boot`` a file-stream query with the
  Qdrant sink, drain the files already waiting (the untimed warm-up batch)
  and report ready; the load process then owns the clock.
- ``corpus``: build the session and the query registry, run two warm-up
  queries, then run the given queries back to back, each forced with the
  noop sink, until the time is up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np

T_SPAWN = float(os.environ.get("PERFBENCH_T0", time.time()))

CHANGE_DDL = (
    "lsn BIGINT, op STRING, tbl STRING, pk STRING, after_title STRING, "
    "after_content STRING, after_author STRING"
)


def emit(event: str, **fields) -> None:
    print("@@PB " + json.dumps({"event": event, **fields}), flush=True)


def session(run_dir: str):
    from cdc2vec_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        cpus=4,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def anchors(spark) -> dict:
    """Host anchors: a one-row noop Spark job and a 768×768 float64 matmul,
    median of five each, in milliseconds."""
    noop, mm = [], []
    for _ in range(5):
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        noop.append((time.perf_counter() - t) * 1000)
    a = np.random.default_rng(0).standard_normal((768, 768))
    for _ in range(5):
        t = time.perf_counter()
        float((a @ a).sum())
        mm.append((time.perf_counter() - t) * 1000)
    return {"anchor.noop_job_ms": float(np.median(noop)),
            "anchor.matmul768_ms": float(np.median(mm))}


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under one job group, from the public
    StatusTracker. Skipped stages count as stages with their task count."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(jobs), len(stages), tasks


# ------------------------------------------------------------------- cdc


def cdc_config(sink_url: str):
    from cdc2vec_spark.config import (
        DOCUMENTS_MAPPING,
        EngineConfig,
        PipelineConfig,
        SinkConfig,
    )

    return PipelineConfig(
        engine=EngineConfig(mappings=(DOCUMENTS_MAPPING,), vector_size=768),
        sink=SinkConfig(type="qdrant", options={"url": sink_url, "collection": "perfbench"}),
    )


def wait_rows(query, rows: int, timeout_s: float = 170.0) -> None:
    """Block until the progress of the query's batches counts ``rows``
    input rows."""
    deadline = time.monotonic() + timeout_s
    while sum(p["numInputRows"] for p in progress(query)) < rows:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"the query did not read {rows} rows")
        time.sleep(0.02)


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def bucket_rows(path: str) -> dict[str, tuple[int, int]]:
    """Bucket directory -> (inode, row count from the parquet footers).
    A bucket rewritten by an apply gets a new directory, so a changed
    inode marks a touched bucket."""
    import pyarrow.parquet as pq

    out = {}
    if not os.path.isdir(path):
        return out
    for name in os.listdir(path):
        d = os.path.join(path, name)
        if not name.startswith("bucket=") or not os.path.isdir(d):
            continue
        rows = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        out[name] = (os.stat(d).st_ino, rows)
    return out


def replay(spark, cfg, plan: dict) -> dict:
    """The traced run: each batch in ``plan["batches"]`` (lists of change
    files, in commit order) goes through the public functions as cumulative
    layers, starting from the state snapshot taken before those batches:

      read → transform → embed → build_points → apply_points → sink hook

    The first four end in a noop write; ``apply`` persists the points and
    applies them to the keyed collection as ``runner.boot`` does, and
    ``sink`` runs the Qdrant hook on the persisted points. A layer's time is
    its cumulative time minus the previous one; every step runs under its
    own job group so its Spark jobs, stages and tasks can be counted."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cdc2vec_spark import runner
    from cdc2vec_spark.cdc import transform
    from cdc2vec_spark.cdc.envelope import OP_DELETE
    from cdc2vec_spark.cdc.pipeline import build_points
    from cdc2vec_spark.embed.provider import DeterministicHashProvider
    from cdc2vec_spark.io import rebalance

    sc = spark.sparkContext
    mapping = cfg.engine.mappings[0]
    provider = DeterministicHashProvider(dim=cfg.engine.vector_size)
    embed = provider.udf(normalize=True)
    hook = runner.sink_hook_for(cfg)
    state = plan["state_dir"]
    shutil.copytree(plan["state0"], state)
    coll = runner.PointsCollection(spark, state)

    def transformed(raw):
        cols = [transform.resolve_flat_column(c, raw.columns) for c in mapping.text_columns]
        df = transform.filter_mapped(raw, [mapping.table])
        df = df.withColumn("text", transform.concat_text(cols))
        df = transform.guard_nonempty(df, "text")
        return df.withColumn("id", transform.derive_key()).withColumn(
            "metadata", transform.metadata_map(mapping, available=raw.columns)
        )

    def noop(df, obs=None):
        if obs is not None:
            df = df.observe(obs, *obs_cols)
        df.write.format("noop").mode("overwrite").save()

    obs_cols = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("op") == OP_DELETE, 1).otherwise(0)).alias("deletes"),
    ]
    batches = []
    t_replay = time.perf_counter()
    for i, files in enumerate(plan["batches"]):
        rec: dict = {}

        def step(name, fn):
            sc.setJobGroup(f"trace-{i}-{name}", name)
            t = time.perf_counter()
            out = fn()
            rec[name + "_ms"] = (time.perf_counter() - t) * 1000
            rec[name + "_jobs"] = job_counts(sc, f"trace-{i}-{name}")
            return out

        def read():
            return spark.read.schema(CHANGE_DDL).parquet(*files)

        o_in, o_tr = Observation(), Observation()
        step("read", lambda: noop(read(), o_in))
        step("transform", lambda: noop(transformed(read()), o_tr))
        step("embed", lambda: noop(rebalance(transformed(read())).withColumn(
            "vector", embed(F.when(F.col("op") != OP_DELETE, F.col("text"))))))
        step("points", lambda: noop(build_points(read(), mapping, provider)))
        before = bucket_rows(state)

        def apply():
            pts = build_points(read(), mapping, provider).persist()
            coll.apply_points(pts)
            return pts

        pts = step("apply", apply)
        step("sink", lambda: hook(pts))
        pts.unpersist()
        after = bucket_rows(state)
        touched = [b for b, v in after.items() if before.get(b, (None,))[0] != v[0]]
        rec.update(
            rows_in=o_in.get["rows"],
            rows_out=o_tr.get["rows"],
            deletes=o_tr.get["deletes"],
            touched_buckets=len(touched),
            state_rows_read=sum(before[b][1] for b in touched if b in before),
            rows_written=sum(after[b][1] for b in touched),
        )
        batches.append(rec)
    return {"batches": batches, "replay_s": time.perf_counter() - t_replay}


def run_cdc(args) -> None:
    spark = session(args.run_dir)
    session_s = time.time() - T_SPAWN
    from cdc2vec_spark import runner

    cfg = cdc_config(args.sink_url)
    t = time.time()
    query, coll, _ = runner.boot(
        spark, cfg, args.changes, CHANGE_DDL, args.state, args.ckpt,
        max_files_per_trigger=args.max_files,
    )
    boot_s = time.time() - t
    t = time.time()
    wait_rows(query, args.warm_rows)
    warmup_s = time.time() - t
    setup_s = time.time() - T_SPAWN
    emit("ready", setup_s=setup_s, session_s=session_s, boot_s=boot_s,
         warmup_s=warmup_s, **anchors(spark))

    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        if cmd == "snapshot":  # sent while the stream has nothing to read
            shutil.copytree(args.state, arg)
            emit("snapshot")
        elif cmd == "stop":
            path, rows = arg.split()
            wait_rows(query, int(rows))  # the last commit's progress may lag it
            prog = progress(query)
            query.stop()
            live = coll.live()
            with open(path) as f:
                sample = json.load(f)
            rows = live.select("id", "lsn").collect()
            vecs = live.where(live.id.isin(sample)).select("id", "vector").collect()
            with open(path, "w") as f:
                json.dump(
                    {
                        "progress": prog,
                        "live": [[r.id, r.lsn] for r in rows],
                        "vectors": [[r.id, list(r.vector)] for r in vecs],
                    },
                    f,
                )
            emit("stopped")
        elif cmd == "trace":
            with open(arg) as f:
                plan = json.load(f)
            out = replay(spark, cfg, plan)
            with open(arg, "w") as f:
                json.dump(out, f)
            emit("traced")
        elif cmd == "exit":
            break
    spark.stop()


# ---------------------------------------------------------------- corpus


def fingerprint_cols(df):
    """Order-insensitive content hash of a query's output, computed as
    observed metrics of the same noop write that times it: the row count
    and two independent 31-bit sums of per-row xxhash64 values. Floating
    columns are rounded to 4 decimals first, so the hash names the values
    a reader would compare."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(field):
        c = F.col(f"`{field.name}`")
        dt = field.dataType
        if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
            return F.round(c.cast("double"), 4)
        if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.DoubleType, T.FloatType)
        ):
            return F.transform(c, lambda x: F.round(x.cast("double"), 4))
        return c

    cols = [canon(f) for f in df.schema.fields]
    p = F.lit(2147483647)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(F.lit("a"), *cols), p)).alias("h1"),
        F.sum(F.pmod(F.xxhash64(F.lit("b"), *cols), p)).alias("h2"),
    ]


# untimed: a JVM-only join/aggregate and an Arrow pandas-UDF scan, so that
# worker start-up lands in set-up rather than on the first timed query
WARMUP_QUERIES = ("b4_multiway_join", "a8_deterministic_embed")


def run_corpus(args) -> None:
    from pyspark.sql import Observation

    spark = session(args.run_dir)
    session_s = time.time() - T_SPAWN
    t = time.time()
    import __spark_entry__

    from cdc2vec_spark.operators import composite

    registry = {**__spark_entry__.queries(), **composite.component_queries()}
    boot_s = time.time() - t
    t = time.time()
    for name in WARMUP_QUERIES:
        registry[name](spark, args.data).write.format("noop").mode("overwrite").save()
    warmup_s = time.time() - t
    setup_s = time.time() - T_SPAWN
    emit("ready", setup_s=setup_s, session_s=session_s, boot_s=boot_s,
         warmup_s=warmup_s, **anchors(spark))

    sc = spark.sparkContext
    order = args.queries.split(",")
    runs = []
    t_end = time.monotonic() + args.seconds
    rep = 0
    while rep == 0 or time.monotonic() < t_end:
        for name in order:
            group = f"q-{rep}-{name}"
            if args.trace:
                sc.setJobGroup(group, name)
            obs = Observation()
            t = time.perf_counter()
            df = registry[name](spark, args.data)
            df = df.observe(obs, *fingerprint_cols(df))
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t
            fp = obs.get
            run = {"query": name, "rep": rep, "wall_s": wall, "rows": fp["rows"],
                   "hash": f"{fp['h1'] or 0:x}-{fp['h2'] or 0:x}"}
            if args.trace:
                run["jobs"], run["stages"], run["tasks"] = job_counts(sc, group)
            runs.append(run)
        rep += 1
    with open(args.out, "w") as f:
        json.dump({"runs": runs}, f)
    emit("done")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["cdc", "corpus"])
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--sink-url")
    ap.add_argument("--changes")
    ap.add_argument("--state")
    ap.add_argument("--ckpt")
    ap.add_argument("--max-files", type=int, default=1)
    ap.add_argument("--warm-rows", type=int, default=0)
    ap.add_argument("--data")
    ap.add_argument("--queries")
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.mode == "cdc":
        run_cdc(args)
    else:
        run_corpus(args)


if __name__ == "__main__":
    main()
