"""The two workloads: one closed-loop client, no think time.

``batch_mixed`` calls ``__spark_entry__.queries()[name](spark, sf_dir)``
and ``.toPandas()`` for each op, then ``spark.catalog.clearCache()``
(outside the op's timer, as ``bench.py`` does). The first pass runs
every op once in listed order (the cold, first-call number); untimed
warm-up passes in seeded order follow, then timed passes in seeded
order until the window has elapsed.

``stream_state`` replays the six streams of ``streams.py``: the first
replay in listed order (the JVM's first streams), untimed warm-up
replays in seeded order, then timed replays in seeded order until the
window has elapsed. Every replay starts fresh queries with fresh
checkpoints, so each stream's first result (``start()`` to the end of
its first micro-batch with input) is a query's first call; their sum,
median over the timed replays, is the workload's ``cold_pass_s``. The
JVM's first replay is warm-up only: one sample, too noisy to bound.

Each batch op's result is compared with its pinned digest twice per
run, outside the op's timer: on the cold pass (first call) and on the
last warm-up pass (where memos already serve). The timed window computes no
digests, so nothing but the ops runs in it. Each stream's output is
compared once per run, after the cold replay. A raised exception or a
wrong digest counts as a failed op.
"""

from __future__ import annotations

import random
import shutil
import statistics
import sys
import time
from datetime import datetime

import numpy as np

import streams
from checks import digest, load_pins

BATCH_OPS = (
    # core facade and operators: joins, windows and group-bys through
    # Catalyst, shuffle and codegen, no Python stage, no memo
    "q5_local_supplier",
    "transform_window",
    "band_join_nearby_orders",
    "events_hourly",
    "sessionize_events",
    # one mapInPandas stage fed by the spread_input exchange
    "gopher_quality_docs",
    "language_id_v2_docs",
    "pretrained_encode_docs",
    "warc_http_docs",
    # many small driver-side jobs while building, and the _memo.py memos
    "bpe_encode_docs",
    "ivf_pq_search",
    "pagerank_event_graph",
    "source_overlap_matrix",
)

#: untimed passes between the cold pass and the timed window
WARMUP_PASSES = 2
#: the timed window holds at least this many passes
MIN_TIMED = 2
#: untimed replays between the cold replay and the timed window
WARMUP_REPLAYS = 1
#: the timed window holds at least this many replays: 48 micro-batches
#: with input, so p75 has twelve beyond it, and medians that ignore a
#: replay slowed by the host
MIN_TIMED_REPLAYS = 4


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def pct_ms(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) * 1e3


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        log(f"FAILED {what}: {why}")


def run_batch(spark, sf_dir: str, seed: int, seconds: float, tracer=None):
    """Returns (tally, metrics, per-pass log)."""
    import __spark_entry__ as entry

    queries = entry.queries()
    pins = load_pins()
    rng = random.Random(seed)
    tally = Tally()
    passes: list[dict] = []

    def call(name: str, phase: str, pass_no: int, check: bool):
        tally.attempted += 1
        build = lambda: queries[name](spark, sf_dir)  # noqa: E731
        t0 = time.perf_counter()
        try:
            pdf = tracer.run_op(name, build) if tracer else build().toPandas()
        except Exception as exc:  # noqa: BLE001 - count it and keep measuring
            tally.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            spark.catalog.clearCache()
            return None
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        if tracer:
            tracer.finish_op(phase, pass_no, wall)
        if check:
            got = digest(pdf)
            if got != pins[name]:
                tally.fail(name, f"digest {got} != pinned {pins[name]}")
        return wall

    def one_pass(order, phase: str, check: bool = False) -> dict:
        pass_no = len(passes)
        t0 = time.perf_counter()
        lat = {name: call(name, phase, pass_no, check) for name in order}
        rec = {"phase": phase, "wall_s": sum(v for v in lat.values() if v is not None),
               "clock_s": time.perf_counter() - t0, "ops": lat}
        passes.append(rec)
        log(f"{phase} pass {pass_no}: {rec['wall_s']:.3f}s")
        return rec

    cold = one_pass(BATCH_OPS, "cold", check=True)
    for i in range(WARMUP_PASSES):
        one_pass(rng.sample(BATCH_OPS, len(BATCH_OPS)), "warmup",
                 check=i == WARMUP_PASSES - 1)
    t_start = time.perf_counter()
    timed = []
    while len(timed) < MIN_TIMED or time.perf_counter() - t_start < seconds:
        timed.append(one_pass(rng.sample(BATCH_OPS, len(BATCH_OPS)), "timed"))
    lat = [v for p in timed for v in p["ops"].values() if v is not None]
    metrics = {
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in timed),
        "op_p50_ms": pct_ms(lat, 50),
        "op_p75_ms": pct_ms(lat, 75),
    }
    return tally, metrics, passes


def run_stream(spark, src: str, work: str, seed: int, seconds: float, tracer=None):
    """Returns (tally, metrics, per-replay log)."""
    from layers import progress_dicts

    pins = load_pins()
    rng = random.Random(seed)
    tally = Tally()
    replays: list[dict] = []
    batch_s: list[float] = []

    def one_stream(name: str, phase: str, replay_no: int, check: bool):
        """Returns (wall seconds, seconds to the first result) or None."""
        tally.attempted += 1
        out = f"{work}/replay{replay_no}/{name}"
        mark = tracer.mark() if tracer else None
        started = time.time()
        t0 = time.perf_counter()
        try:
            query = streams.build(spark, name, src, out).start()
            t_built = time.perf_counter() - t0
            finished = query.awaitTermination(120)
            wall = time.perf_counter() - t0
            if not finished:
                query.stop()
                raise TimeoutError("stream did not finish within 120 s")
            if query.exception() is not None:
                raise RuntimeError(str(query.exception())[:300])
        except Exception as exc:  # noqa: BLE001 - count it and keep measuring
            tally.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None
        progress = [p for p in progress_dicts(query) if p.get("numInputRows", 0) > 0]
        if not progress:
            tally.fail(name, "no micro-batch read any input")
            return None
        ms = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        if phase == "timed":
            batch_s.extend(ms)
        # the first result: the first micro-batch with input ends at its
        # trigger start (the JVM's wall clock, in ms) plus its duration
        first = progress[0]
        ends = datetime.fromisoformat(first["timestamp"]).timestamp() + ms[0]
        if tracer:
            tracer.finish_stream(name, phase, replay_no, query, t_built, wall, mark)
        if check:
            got = digest(streams.read_output(spark, name, out))
            want = pins[f"stream:{name}"]
            if got != want:
                tally.fail(name, f"digest {got} != pinned {want}")
        return wall, ends - started

    def one_replay(order, phase: str, check: bool = False) -> dict:
        replay_no = len(replays)
        res = {name: one_stream(name, phase, replay_no, check) for name in order}
        shutil.rmtree(f"{work}/replay{replay_no}", ignore_errors=True)
        done = {k: v for k, v in res.items() if v is not None}
        rec = {"phase": phase, "wall_s": sum(v[0] for v in done.values()),
               "first_result_s": sum(v[1] for v in done.values()),
               "streams": {k: v and v[0] for k, v in res.items()}}
        replays.append(rec)
        log(f"{phase} replay {replay_no}: {rec['wall_s']:.3f}s, first results "
            f"{rec['first_result_s']:.3f}s ("
            + ", ".join(f"{k} {v[0]:.2f}/{v[1]:.2f}" for k, v in done.items()) + ")")
        return rec

    one_replay(streams.STREAMS, "cold", check=True)
    for _ in range(WARMUP_REPLAYS):
        one_replay(rng.sample(streams.STREAMS, len(streams.STREAMS)), "warmup")
    t_start = time.perf_counter()
    timed = []
    while len(timed) < MIN_TIMED_REPLAYS or time.perf_counter() - t_start < seconds:
        timed.append(one_replay(rng.sample(streams.STREAMS, len(streams.STREAMS)), "timed"))
    metrics = {
        "cold_pass_s": statistics.median(r["first_result_s"] for r in timed),
        "warm_pass_s": statistics.median(r["wall_s"] for r in timed),
        "op_p50_ms": pct_ms(batch_s, 50),
        "op_p75_ms": pct_ms(batch_s, 75),
    }
    return tally, metrics, replays
