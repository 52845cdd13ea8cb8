"""The host-capacity gauge samples and stops every worker it started."""

from __future__ import annotations

from perfbench import host


def test_gauge_samples_then_stops_its_workers():
    gauge = host.Gauge()
    workers = list(gauge.pool._pool)
    try:
        gauge.sample()
        gauge.sample()
    finally:
        gauge.close()
    assert len(gauge.samples) == 2 and all(s > 0 for s in gauge.samples)
    assert len(workers) == host.CORES
    assert not any(w.is_alive() for w in workers)
