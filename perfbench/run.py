"""The benchmark's one command: the load process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. This process is the outside world: it makes
every input from ``--seed`` (perfbench/gen.py), serves the mock Qdrant
endpoint (perfbench/mock_sink.py), starts the engine in its own process
(perfbench/engine.py, Spark at local[4]), keeps the clock, reads the
streaming checkpoint's logs, and checks the engine's outputs against its own
reference. The last line of stdout is one JSON object; the lines before it
repeat every measured value as ``name value unit``.

Workloads:

- ``cdc_backfill``: closed-loop drain of a pre-written, insert-heavy change
  log released at once into an engine that has already booted and drained
  one warm-up file.
- ``corpus_ops``: nine operator queries run back to back in one session,
  each forced with the noop sink.

``--trace 1`` reports the per-layer metrics instead of the end-to-end ones:
``cdc_backfill`` replays batches of its log as cumulative layers after the
untraced stream, and ``corpus_ops`` tags each query with a job group.
``--record`` (corpus_ops only) rewrites the recorded query fingerprints.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from mock_sink import MockQdrant  # noqa: E402

RUN_DIR = ".perfbench-run"
EXPECTED = os.path.join(HERE, "expected_corpus.json")
# every wait of a run ends by this long after the run started, so that a
# stuck engine still lets the run fail within three minutes
DEADLINE_S = 165.0

# cdc_backfill: a warm-up file, then change files of FILE_ROWS changes,
# FILES_PER_BATCH to a micro-batch, one batch per SECONDS_PER_BATCH of
# --seconds and at least two (a 4,000-change batch takes about 7 s on a
# 4-core host)
BACKFILL_WARM_ROWS = 4000
BACKFILL_FILE_ROWS = 1000
BACKFILL_FILES_PER_BATCH = 4
BACKFILL_SECONDS_PER_BATCH = 7
# point vectors compared with the reference embedding in a CDC run
SAMPLE_IDS = 64

CORPUS_QUERIES = (
    "d2_blocked_jaccard",
    "d40_incremental_dedup",
    "d28_lm_perplexity",
    "d32_web_prep",
    "t9_nfc_normalize",
    "d45_kmeans_refine",
    "d3_ivf_topk",
    "c12_incremental_agg",
    "b4_multiway_join",
)

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_ms_p50": "ms",
    "latency_ms_p99": "ms",
}

CDC_LAYERS = ("read", "transform", "embed", "points", "apply", "sink")
# the planning and commit phases of a micro-batch's durationMs
PLAN_PHASES = ("latestOffset", "getBatch", "queryPlanning")
COMMIT_PHASES = ("walCommit", "commitOffsets")

PER_LAYER = {
    "setup.session_s": "s",
    "setup.boot_s": "s",
    "setup.warmup_s": "s",
    "stream.queue_wait_ms_p50": "ms",
    "stream.batch_ms_p50": "ms",
    "stream.batch_ms_p99": "ms",
    "stream.plan_ms_p50": "ms",
    "stream.commit_ms_p50": "ms",
    "read.ms": "ms",
    "cdc.transform_ms": "ms",
    "cdc.transform.rows_in": "count",
    "cdc.transform.rows_out": "count",
    "embed.udf_ms": "ms",
    "embed.rows": "count",
    "embed.null_skipped": "count",
    "points.ms": "ms",
    "apply.ms": "ms",
    "apply.touched_buckets": "count",
    "apply.state_rows_read": "count",
    "apply.rows_written": "count",
    "sink.ms": "ms",
    "sink.requests": "count",
    "sink.bytes": "bytes",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    **{f"share.{k}_pct": "%" for k in ("plan",) + CDC_LAYERS + ("commit",)},
    "trace.coverage_pct": "%",
    "trace.replay_cost_x": "x",
    **{
        k: u
        for q in CORPUS_QUERIES
        for k, u in ((f"q.{q}_s", "s"), (f"q.{q}.jobs", "count"), (f"q.{q}.tasks", "count"))
    },
    "anchor.noop_job_ms": "ms",
    "anchor.matmul768_ms": "ms",
    "engine.peak_rss_mb": "MB",
}

# A traced cdc_backfill run drains this many more batches after the timed
# ones and replays those: the engine keeps speeding up for a few batches
# after its warm-up, and the replay runs after the stream, so it is compared
# with batches as warm as itself.
TRACE_BATCHES = 3


class EngineProcess:
    """The engine, in its own process group so that stopping it also stops
    its JVM and Python workers. Protocol lines arrive on a queue."""

    def __init__(self, run: str, args: list[str], deadline: float):
        self.deadline = deadline  # time.monotonic() by which the run must end
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(filter(None, [os.getcwd(), env.get("PYTHONPATH")])),
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_DRIVER_MEM="3g",
            SPARK_LOCAL_DIRS=os.path.join(run, "spark-local"),
            TMPDIR=os.path.join(run, "tmp"),
            PERFBENCH_T0=repr(time.time()),
        )
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log_path = os.path.join(run, "engine.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), *args],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            env=env,
            text=True,
            start_new_session=True,
        )
        self.t0 = time.monotonic()
        self.events: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@PB "):
                self.events.put(json.loads(line[5:]))
        self.events.put(None)

    def remaining(self) -> float:
        return max(0.0, self.deadline - time.monotonic())

    def expect(self, event: str) -> dict:
        try:
            msg = self.events.get(timeout=self.remaining())
        except queue.Empty:
            msg = None
        if msg is None or msg.get("event") != event:
            raise RuntimeError(f"engine did not report {event!r}:\n{self.log_tail()}")
        self.note(event)
        return msg

    def note(self, what: str) -> None:
        print(f"# {time.monotonic() - self.t0:6.1f} s  engine {what}", file=sys.stderr)

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def alive(self) -> bool:
        return self.proc.poll() is None

    def log_tail(self, n: int = 30) -> str:
        self._log.flush()
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])

    def peak_rss_mb(self) -> float:
        """Sum of the peak resident sizes of the engine's processes
        (its Python process, the JVM, Python workers), from /proc."""
        children: dict[int, list[int]] = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        total_kb, todo = 0, [self.proc.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024

    def close(self) -> None:
        """Ask the engine to exit, then make sure its whole group is gone."""
        try:
            if self.alive():
                self.send("exit")
                self.proc.wait(timeout=min(30.0, self.remaining() + 5.0))
        except (OSError, subprocess.TimeoutExpired):
            pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.note("exited")
        self._reader.join(timeout=10)
        self._log.close()


# ------------------------------------------------------------- checking


def fnv1a64(s: str) -> int:
    """FNV-1a over UTF-8 bytes, unsigned 64-bit: the Qdrant point id."""
    h = 14695981039346656037
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def check_cdc(ref, live, vectors, sample, sink_ids, sink_errors, embed_one) -> tuple[int, int]:
    """Compare the engine's outputs with the reference. Returns (attempted,
    failed). One operation per key of the keyed state (present in both,
    same LSN), per extra row of a key the state holds more than once, per
    sampled vector (the normalized ``embed_one`` of the reference text,
    held once), per point id at the sink, and per sink request that
    errored. ``live`` and ``vectors`` are lists of (id, value) rows."""
    state = dict(live)
    keys = set(ref) | set(state)
    duplicates = len(live) - len(state)
    failed = duplicates + sum(1 for k in keys if k not in ref or state.get(k) != ref[k][0])
    held: dict[str, list] = {}
    for k, v in vectors:
        held.setdefault(k, []).append(v)
    for k in sample:
        want = np.asarray(embed_one(ref[k][1]), dtype=np.float64)
        norm = np.linalg.norm(want)
        want = want / norm if norm else want
        got = held.get(k, [])
        if len(got) != 1 or len(got[0]) != len(want) or not np.allclose(got[0], want, atol=1e-9):
            failed += 1
    want_ids = {fnv1a64(k) for k in ref}
    failed += len(want_ids ^ sink_ids) + sink_errors
    attempted = len(keys) + duplicates + len(sample) + len(want_ids | sink_ids) + sink_errors
    return attempted, failed


# ------------------------------------------------------------- cdc runs


def land(staging: str, changes: str, name: str, data: bytes) -> None:
    """Land one change file atomically: the stream lists ``changes``, so a
    file appears there under its final name only once complete."""
    tmp = os.path.join(staging, name)
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, os.path.join(changes, name))


def wait_delivered(files, ckpt: str, eng: EngineProcess):
    while True:
        delivered = stats.delivery(files, ckpt)
        if all(d is not None for d in delivered):
            return delivered
        if not eng.alive() or not eng.remaining():
            raise RuntimeError(f"change files were not all delivered:\n{eng.log_tail()}")
        time.sleep(0.05)


def release(staging: str, changes: str, names: list[str], blobs: list[bytes]) -> float:
    """Stage files in order with distinct past mtimes (the stream reads the
    oldest first), then move them all into the stream's directory. Returns
    the release time."""
    base = time.time() - len(names) * 0.01 - 1.0
    for i, (name, blob) in enumerate(zip(names, blobs)):
        path = os.path.join(staging, name)
        with open(path, "wb") as f:
            f.write(blob)
        os.utime(path, (base + i * 0.01,) * 2)
    t = time.time()
    for name in names:
        os.replace(os.path.join(staging, name), os.path.join(changes, name))
    return t


def run_cdc(seed: int, seconds: float, trace: bool, run: str, deadline: float) -> dict:
    changes, staging, ckpt = (os.path.join(run, d) for d in ("changes", "staging", "ckpt"))
    os.makedirs(changes)
    os.makedirs(staging)
    n_timed = max(2, round(seconds / BACKFILL_SECONDS_PER_BATCH)) * BACKFILL_FILES_PER_BATCH
    extra = TRACE_BATCHES * BACKFILL_FILES_PER_BATCH if trace else 0
    warm, tables = gen.backfill_log(seed, BACKFILL_WARM_ROWS, n_timed + extra, BACKFILL_FILE_ROWS)
    ref = gen.reference_state([warm, *tables])
    rng = np.random.default_rng([seed, 9])
    sample = sorted(rng.choice(sorted(ref), min(SAMPLE_IDS, len(ref)), replace=False).tolist())
    blobs = [gen.parquet_bytes(t) for t in tables]
    names = [f"f{i:05d}.parquet" for i in range(len(tables))]
    land(staging, changes, "warm.parquet", gen.parquet_bytes(warm))
    state0 = os.path.join(run, "state0")

    with MockQdrant(dim=768) as mock:
        eng = EngineProcess(run, [
            "cdc", "--run-dir", run, "--sink-url", mock.url, "--changes", changes,
            "--state", os.path.join(run, "state"), "--ckpt", ckpt,
            "--max-files", str(BACKFILL_FILES_PER_BATCH), "--warm-rows", str(warm.num_rows),
        ], deadline)
        try:
            ready = eng.expect("ready")
            req0, bytes0, _ = mock.counters()
            t_release = release(staging, changes, names[:n_timed], blobs[:n_timed])
            files = [(n, t_release, t.num_rows) for n, t in zip(names[:n_timed], tables)]
            delivered = wait_delivered(files, ckpt, eng)
            req1, bytes1, sink_errors = mock.counters()
            if trace:
                eng.send(f"snapshot {state0}")
                eng.expect("snapshot")
                t = release(staging, changes, names[n_timed:], blobs[n_timed:])
                wait_delivered([(n, t, 0) for n in names[n_timed:]], ckpt, eng)
                sink_errors = mock.counters()[2]
            sink_ids = mock.live_ids()  # before a traced replay resends batches
            dump_path = os.path.join(run, "dump.json")
            with open(dump_path, "w") as f:
                json.dump(sample, f)
            eng.send(f"stop {dump_path} {warm.num_rows + sum(t.num_rows for t in tables)}")
            eng.expect("stopped")
            with open(dump_path) as f:
                dump = json.load(f)
            trace_out = None
            if trace:
                batch_of = stats.read_file_batches(ckpt)
                replayed = names[n_timed:]
                batch_ids = sorted({batch_of[n] for n in replayed})[:TRACE_BATCHES]
                plan = {
                    "state0": state0,
                    "state_dir": os.path.join(run, "replay_state"),
                    "batches": [
                        [os.path.join(changes, n) for n in replayed if batch_of[n] == b]
                        for b in batch_ids
                    ],
                }
                plan_path = os.path.join(run, "plan.json")
                with open(plan_path, "w") as f:
                    json.dump(plan, f)
                eng.send(f"trace {plan_path}")
                eng.expect("traced")
                with open(plan_path) as f:
                    trace_out = json.load(f)
                trace_out["batch_ids"] = batch_ids
            rss = eng.peak_rss_mb()
        finally:
            eng.close()

    from cdc2vec_spark.embed.provider import DeterministicHashProvider

    attempted, failed = check_cdc(
        ref, dump["live"], dump["vectors"], sample, sink_ids, sink_errors,
        DeterministicHashProvider(dim=768).embed_one,
    )
    prog = [p for p in dump["progress"] if p["numInputRows"] > 0]
    by_id = {int(p["batchId"]): p for p in prog}
    starts = stats.batch_starts(prog)
    fresh = stats.freshness_ms(files, delivered)
    rate = sum(n for _, _, n in files) / (max(d[1] for d in delivered) - t_release)
    timed = [by_id[b] for b in sorted({d[0] for d in delivered}) if b in by_id]
    dur = [p["durationMs"] for p in timed]
    p50, p99 = stats.median(fresh), stats.percentile(fresh, 99)
    layer = {
        "setup.session_s": ready["session_s"],
        "setup.boot_s": ready["boot_s"],
        "setup.warmup_s": ready["warmup_s"],
        "stream.queue_wait_ms_p50": stats.median(stats.queue_wait_ms(files, delivered, starts)),
        "stream.batch_ms_p50": stats.median([d["triggerExecution"] for d in dur]),
        "stream.batch_ms_p99": stats.percentile([d["triggerExecution"] for d in dur], 99),
        "stream.plan_ms_p50": stats.median([phase_ms(d, PLAN_PHASES) for d in dur]),
        "stream.commit_ms_p50": stats.median([phase_ms(d, COMMIT_PHASES) for d in dur]),
        "sink.requests": (req1 - req0) / len(timed),
        "sink.bytes": (bytes1 - bytes0) / len(timed),
        "engine.peak_rss_mb": rss,
        "anchor.noop_job_ms": ready["anchor.noop_job_ms"],
        "anchor.matmul768_ms": ready["anchor.matmul768_ms"],
    }
    if trace_out is not None:
        layer.update(trace_layers(trace_out, by_id))
    return {
        "e2e": {
            "setup_s": ready["setup_s"],
            "throughput_per_s": rate,
            "latency_ms_p50": p50,
            "latency_ms_p99": p99,
        },
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "alias": {
            "backfill_changes_per_s": (rate, "1/s"),
            "freshness_ms_p50": (p50, "ms"),
            "freshness_ms_p99": (p99, "ms"),
            "freshness_samples": (len(fresh), "count"),
        },
    }


def phase_ms(duration: dict, phases) -> float:
    """Sum of some phases of a progress report's ``durationMs``."""
    return sum(duration.get(k, 0) for k in phases)


def trace_layers(tr: dict, by_id: dict) -> dict:
    """Per-layer metrics of the replayed batches: each layer's time is the
    difference of consecutive cumulative steps; the planning and commit
    phases come from the untraced batches' progress."""
    recs = tr["batches"]
    walls = [by_id[b]["durationMs"] for b in tr["batch_ids"]]
    per = {k: [] for k in ("plan",) + CDC_LAYERS + ("commit",)}
    for r, d in zip(recs, walls):
        cum = [r[f"{k}_ms"] for k in ("read", "transform", "embed", "points")]
        per["plan"].append(phase_ms(d, PLAN_PHASES))
        per["read"].append(cum[0])
        per["transform"].append(cum[1] - cum[0])
        per["embed"].append(cum[2] - cum[1])
        per["points"].append(cum[3] - cum[2])
        per["apply"].append(r["apply_ms"] - cum[3])
        per["sink"].append(r["sink_ms"])
        per["commit"].append(phase_ms(d, COMMIT_PHASES))
    untraced = sum(d["triggerExecution"] for d in walls)
    layer_sum = sum(sum(v) for v in per.values())
    # the Spark work of one batch as runner.boot runs it: apply + sink
    sched = [[a + b for a, b in zip(r["apply_jobs"], r["sink_jobs"])] for r in recs]
    return {
        "read.ms": stats.median(per["read"]),
        "cdc.transform_ms": stats.median(per["transform"]),
        "cdc.transform.rows_in": stats.median([r["rows_in"] for r in recs]),
        "cdc.transform.rows_out": stats.median([r["rows_out"] for r in recs]),
        "embed.udf_ms": stats.median(per["embed"]),
        "embed.rows": stats.median([r["rows_out"] - r["deletes"] for r in recs]),
        "embed.null_skipped": stats.median([r["deletes"] for r in recs]),
        "points.ms": stats.median(per["points"]),
        "apply.ms": stats.median(per["apply"]),
        "apply.touched_buckets": stats.median([r["touched_buckets"] for r in recs]),
        "apply.state_rows_read": stats.median([r["state_rows_read"] for r in recs]),
        "apply.rows_written": stats.median([r["rows_written"] for r in recs]),
        "sink.ms": stats.median(per["sink"]),
        "spark.jobs_per_op": stats.median([j for j, _, _ in sched]),
        "spark.stages_per_op": stats.median([s for _, s, _ in sched]),
        "spark.tasks_per_op": stats.median([t for _, _, t in sched]),
        **{f"share.{k}_pct": 100.0 * sum(v) / untraced for k, v in per.items()},
        "trace.coverage_pct": 100.0 * layer_sum / untraced,
        "trace.replay_cost_x": tr["replay_s"] * 1000.0 / untraced,
    }


# ---------------------------------------------------------- corpus runs


def run_corpus(seconds: float, trace: bool, run: str, record: bool, deadline: float) -> dict:
    """``corpus_ops`` ignores the seed: its tables are fixed so that the
    recorded fingerprints hold, and its query order is fixed so that
    first-use costs land on the same query in every run."""
    data = os.path.join(run, "data")
    os.makedirs(data)
    for name, table in gen.corpus_tables().items():
        pq.write_table(table, os.path.join(data, f"{name}.parquet"))
    out_path = os.path.join(run, "corpus.json")
    eng = EngineProcess(run, [
        "corpus", "--run-dir", run, "--data", data, "--queries", ",".join(CORPUS_QUERIES),
        "--seconds", str(seconds), "--trace", str(int(trace)), "--out", out_path,
    ], deadline)
    try:
        ready = eng.expect("ready")
        eng.expect("done")
        rss = eng.peak_rss_mb()
    finally:
        eng.close()
    with open(out_path) as f:
        runs = json.load(f)["runs"]
    if record:
        first = {r["query"]: {"rows": r["rows"], "hash": r["hash"]} for r in runs if r["rep"] == 0}
        with open(EXPECTED, "w") as f:
            json.dump(dict(sorted(first.items())), f, indent=1)
            f.write("\n")
    with open(EXPECTED) as f:
        expected = json.load(f)
    failed = sum(
        1 for r in runs
        if expected.get(r["query"]) != {"rows": r["rows"], "hash": r["hash"]}
    )
    walls = [r["wall_s"] for r in runs]
    layer = {
        "setup.session_s": ready["session_s"],
        "setup.boot_s": ready["boot_s"],
        "setup.warmup_s": ready["warmup_s"],
        "engine.peak_rss_mb": rss,
        "anchor.noop_job_ms": ready["anchor.noop_job_ms"],
        "anchor.matmul768_ms": ready["anchor.matmul768_ms"],
    }
    for q in CORPUS_QUERIES:
        mine = [r for r in runs if r["query"] == q]
        layer[f"q.{q}_s"] = stats.median([r["wall_s"] for r in mine])
        if trace:
            layer[f"q.{q}.jobs"] = stats.median([r["jobs"] for r in mine])
            layer[f"q.{q}.tasks"] = stats.median([r["tasks"] for r in mine])
    if trace:
        layer["spark.jobs_per_op"] = float(np.mean([r["jobs"] for r in runs]))
        layer["spark.stages_per_op"] = float(np.mean([r["stages"] for r in runs]))
        layer["spark.tasks_per_op"] = float(np.mean([r["tasks"] for r in runs]))
    # a round's latency: the time to the complete result of all nine queries
    rounds = [
        sum(r["wall_s"] for r in runs if r["rep"] == rep) * 1000
        for rep in range(max(r["rep"] for r in runs) + 1)
    ]
    return {
        "e2e": {
            "setup_s": ready["setup_s"],
            "throughput_per_s": len(walls) / sum(walls),
            "latency_ms_p50": stats.median(rounds),
            "latency_ms_p99": stats.percentile(rounds, 99),
        },
        "layer": layer,
        "attempted": len(runs),
        "failed": failed,
        "alias": {
            "corpus_ops_wall_s": (stats.median(rounds) / 1000, "s"),
            "corpus_ops_rounds": (len(rounds), "count"),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc_backfill", "corpus_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # a terminated run still stops the engine's process group (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir("cdc2vec_spark"):
        print("run from the root of a checkout that holds cdc2vec_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())  # the engine package, for the reference embedder
    run = os.path.abspath(RUN_DIR)
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    if args.workload == "corpus_ops":
        res = run_corpus(args.seconds, bool(args.trace), run, args.record, deadline)
    else:
        res = run_cdc(args.seed, args.seconds, bool(args.trace), run, deadline)

    failed_ratio = res["failed"] / res["attempted"]
    report = {k: (v, END_TO_END[k]) for k, v in res["e2e"].items()}
    report.update({k: (res["layer"][k], u) for k, u in PER_LAYER.items() if k in res["layer"]})
    report.update(res["alias"])
    report["failed_ratio"] = (failed_ratio, "ratio")
    for k, (v, u) in report.items():
        print(f"{k} {v:.6g} {u}")
    names = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(res["layer"].get(k, 0) if args.trace else res["e2e"][k]), "unit": u}
               for k, u in names.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    shutil.rmtree(run, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
