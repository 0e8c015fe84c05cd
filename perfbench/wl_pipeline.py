"""pipeline — the engine's offline jobs on one SparkSession: the reference's
daily SCD1 loads and Firehose CTR stream (``ingest``) and the LLM-data
curation stages (``curation``). They are independent jobs, so they run as
two concurrent lanes, one thread each; within a lane every step runs
serially (a pipeline is a chain). The run measures whole rounds — each lane
runs one cycle and both wait for the other — at least ``MIN_ROUNDS`` and
then until ``--seconds`` have passed, so every run times the same multiset
of ops with the same pairing of lanes. Query code does no work here.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import curation
import ingest
from harness import now

MIN_ROUNDS = 2
OP_STRIDE = 100  # op ids: round * OP_STRIDE + lane offset


def run(r) -> bool:
    parts = [ingest.make(r), curation.make(r)]

    def lanes(fn) -> list:
        """``fn(lane, part)`` for every part at once, one thread each."""
        with ThreadPoolExecutor(len(parts)) as pool:
            futures = [pool.submit(fn, i, p) for i, p in enumerate(parts)]
            return [f.result() for f in futures]

    def register(spark):
        for p in parts:
            p.register(spark)

    def warm(i, p):
        t = now()
        p.warmup(r.spark)
        return round(now() - t, 3)

    r.setup(register, lambda spark: r.notes.update(warmup_lanes_s=lanes(warm)))
    r.begin()
    rnd = 0
    while rnd < MIN_ROUNDS or (r.elapsed() < r.seconds and all(p.more() for p in parts)):
        base = rnd * OP_STRIDE
        lanes(lambda i, p: p.measure(r.spark, base + i * OP_STRIDE // 2))
        rnd += 1
    r.end()
    r.notes["rounds"] = rnd
    return all([p.finish(r.spark) for p in parts])
