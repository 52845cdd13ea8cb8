"""Host-capacity gauge: how long a fixed load on every core takes.

On a shared VM the share of its cores the host gives the guest comes and
goes. Within one hour the same code's median operation took twice as
long, in both workloads, while a single-core loop slowed by a tenth at
most; a fixed load spread over all four cores slowed with the
operations. The runner times that load once right after every timed
operation and scales its gated latency by it:

    op_p50_norm_s = op_p50_s * REF_S / median(samples)

so a run on a busy host and a run on a quiet one report closer figures
for the same code. The workers are forked before
the engine starts and sit idle on a queue while an operation runs.
"""

from __future__ import annotations

import multiprocessing
import time

CORES = 4
CHUNKS = 2 * CORES          # two rounds, so a slow core shows
CHUNK_ITERS = 200_000
REF_S = 0.033               # a sample's median on a quiet 4-vCPU host


def spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


class Gauge:
    def __init__(self) -> None:
        self.pool = multiprocessing.get_context("fork").Pool(CORES)
        self.samples: list[float] = []
        for _ in range(3):   # the first maps of fresh workers run slow
            self.sample()
        self.samples.clear()

    def sample(self) -> None:
        t0 = time.perf_counter()
        self.pool.map(spin, [CHUNK_ITERS] * CHUNKS, chunksize=1)
        self.samples.append(time.perf_counter() - t0)

    def close(self) -> None:
        """Stop the workers and wait for each to end."""
        self.pool.terminate()
        self.pool.join()
