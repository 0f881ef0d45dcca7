"""bench.py reporting units — no Spark, no measurement.

Pins the one stdout contract the query bench keeps: its final JSON line
fits the 2,000-char tail a caller captures (a 63-query line once
overflowed it and no bench was parsed at all), and every query it
times is registered in `__spark_entry__.queries()`.
"""

import json

import bench


class TestCompactLine:
    def test_full_compact_line_fits_tail_capture(self):
        # worst case: every headline query present at 7-char timings
        payload = {
            "metric": "bench_total_wall", "value": 99999.999,
            "unit": "sec",
            "queries": {k: 999.999 for k in bench.HEADLINE},
            "sf": "sf0.1",
            "host": {"cpu": "x" * 200, "host_cores": 4096, "cpus": 4096},
        }
        line = bench.compact_line(payload)
        assert "\n" not in line and len(line) <= bench.MAX_LINE
        out = json.loads(line)
        assert out["queries"] == {k: 999.999 for k in bench.INLINE_QUERIES}
        assert out["value"] == 99999.999 and out["cpus"] == 4096
        assert not any(k.startswith("extraction") for k in out)


class TestQueryLists:
    def test_bench_queries_are_registered(self):
        import __spark_entry__ as entrymod
        names = set(entrymod.queries())
        assert set(bench.HEADLINE) <= names
        assert set(bench.INLINE_QUERIES) <= set(bench.HEADLINE)
        assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
