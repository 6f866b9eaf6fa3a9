"""Timing math of the benchmark, read from outside the engine.

A Structured Streaming checkpoint records, per micro-batch, which files the
batch read (``sources/0/<batch>``, JSON lines that carry their own
``batchId``, merged into ``<batch>.compact`` files every few batches) and
when the batch committed (the ``commits/<batch>`` file, written once the
batch's sink work is done). Together with the load process's own record of
when each change file was due, they give every change's freshness: commit
time of the batch that delivered it minus its creation stamp.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np


def percentile(values, q: float) -> float:
    """The ``q``-th percentile as a value that was observed: the smallest
    sample with at least ``q``% of the samples at or below it. Freshness
    samples share their batch's commit time, so a value interpolated
    between two batches would be one no change had."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q, method="inverted_cdf"))


def median(values) -> float:
    return percentile(values, 50)


def read_file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it."""
    src = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" header
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def read_commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> commit time (epoch seconds, from the commit file)."""
    com = os.path.join(ckpt, "commits")
    if not os.path.isdir(com):
        return {}
    return {
        int(name): os.stat(os.path.join(com, name)).st_mtime_ns / 1e9
        for name in os.listdir(com)
        if name.isdigit()
    }


def batch_starts(progress: list[dict]) -> dict[int, float]:
    """Batch id -> trigger start (epoch seconds) from query progress."""
    return {
        int(p["batchId"]): datetime.fromisoformat(p["timestamp"]).timestamp()
        for p in progress
    }


def delivery(files: list[tuple[str, float, int]], ckpt: str):
    """Join the load process's file record with the checkpoint logs.

    ``files`` holds (file name, due time in epoch seconds, change count).
    Returns, per file in the given order, (batch id, commit time), or None
    for a file no committed batch has read yet."""
    batch_of = read_file_batches(ckpt)
    committed = read_commit_times(ckpt)
    out = []
    for name, _due, _n in files:
        b = batch_of.get(name)
        out.append((b, committed[b]) if b is not None and b in committed else None)
    return out


def freshness_ms(files, delivered) -> np.ndarray:
    """One sample per delivered change: commit time of its batch minus the
    creation stamp (due time) of its file, in milliseconds."""
    parts = [
        np.full(n, (d[1] - due) * 1000.0)
        for (_name, due, n), d in zip(files, delivered)
        if d is not None
    ]
    return np.concatenate(parts) if parts else np.zeros(0)


def queue_wait_ms(files, delivered, starts: dict[int, float]) -> np.ndarray:
    """Per delivered file: trigger start of its batch minus its due time
    (negative when the file landed while an earlier trigger was starting)."""
    return np.array(
        [
            (starts[d[0]] - due) * 1000.0
            for (_name, due, _n), d in zip(files, delivered)
            if d is not None and d[0] in starts
        ]
    )
