"""``bench.py``'s output is read from a 2000-char tail capture: the
compact last line alone must give every per-query time."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from datawarehouse_vehicule_insurance_spark import queries as Q

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parents[1] / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_tail_capture_recovers_every_query_time():
    names = list({**Q.QUERIES, **Q.BENCH_EXTRA})
    assert len(names) == 59
    timings = {n: round(0.1234 + 0.2173 * i, 4) for i, n in enumerate(names)}
    summary = dict(
        metric="query_suite_wall_time", value=round(sum(timings.values()), 4),
        registry_value=123.4567, unit="sec", sf="/data/sf0.1",
        canary_sec=4.1234, canary_py_sec=2.3456, canary_post_sec=4.2345,
        canary_py_post_sec=3.4567, registry_md5="0123456789ab",
    )
    full = json.dumps({**summary, "queries": timings, "host": {
        "loadavg_before": [0.52, 0.61, 0.48],
        "loadavg_after": [1.93, 1.12, 0.77], "n_pids": 312, "passes": 3,
        "agg": "min", "noisy": False,
        "noisy_rule": "loadavg1>4 or loadavg5>8 at start",
    }})
    compact = bench.compact_line(timings, noisy=False, **summary)
    tail = f"{full}\n{compact}\n"[-2000:]
    assert full not in tail  # the tail clips the long line's front
    got = bench.per_query_from_compact(tail.strip().splitlines()[-1], names)
    assert got == {n: round(t * 1000) / 1000 for n, t in timings.items()}
    with pytest.raises(ValueError):
        bench.per_query_from_compact(compact, names[:-1])
