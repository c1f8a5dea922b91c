"""Unit tests for the bench harness's measurement plumbing.

The scaling protocol (``bench.common.two_level_scaling``) is the
north-rule evidence generator, so its two low-level pieces — the
/proc/stat tick reader the noise fracs come from and the CPU-affinity
pin that makes a ``local[N]`` leg an honest N-core measurement — get
their own fast, Spark-free tests.  (An unpinned local[4] flagship leg
was measured burning 6.8-7.1 host cores: JVM task threads + forked
Python workers + GC/IO threads all land on idle host cores, overstating
N-leg throughput and deflating the computed N→4N efficiency.)
"""

from __future__ import annotations

import os

from bench.common import cpu_sys_steal_total, pinned


class TestCpuTicks:
    def test_shape_and_monotonicity(self):
        a = cpu_sys_steal_total()
        assert a is not None and len(a) == 4
        sys_t, steal, total, busy = a
        # busy excludes idle+iowait so it is strictly below total, and
        # every component is a non-negative jiffy counter
        assert 0 <= steal <= total
        assert 0 <= sys_t <= busy <= total
        b = cpu_sys_steal_total()
        assert all(y >= x for x, y in zip(a, b))


class TestPinned:
    def test_confines_and_restores_affinity(self):
        prev = os.sched_getaffinity(0)
        with pinned(2):
            inside = os.sched_getaffinity(0)
            assert inside == {0, 1}
        assert os.sched_getaffinity(0) == prev

    def test_restores_on_exception(self):
        prev = os.sched_getaffinity(0)
        try:
            with pinned(1):
                raise RuntimeError("leg crashed")
        except RuntimeError:
            pass
        assert os.sched_getaffinity(0) == prev

    def test_child_process_inherits_mask(self):
        # the JVM (and its forked Python workers) must inherit the leg's
        # mask — this is the mechanism the whole pin rests on
        with pinned(2):
            pid = os.fork()
            if pid == 0:  # child
                ok = os.sched_getaffinity(0) == {0, 1}
                os._exit(0 if ok else 1)
            _, status = os.waitpid(pid, 0)
            assert os.waitstatus_to_exitcode(status) == 0


class TestCalmAnchor:
    """``bench.py``'s calm anchor must come from an artifact measured at the
    same sf AND core count."""

    @staticmethod
    def _bench_module(repo):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "bench_main", os.path.join(repo, "bench.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_keys_on_sf_and_cpus(self, tmp_path, monkeypatch):
        import json

        mod = self._bench_module(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        (tmp_path / "BENCH").mkdir()
        for rnd, cpus, sec in ((9, 32, 3.0), (10, 4, 7.5), (11, 32, 2.9)):
            (tmp_path / "BENCH" / f"BENCH_r{rnd}_local.json").write_text(
                json.dumps({"sf": 0.1, "cpus": cpus,
                            "queries": {"reverse_geocode": sec}}))
        monkeypatch.setattr(mod, "_REPO", str(tmp_path))
        assert mod._calm_anchor(0.1, 32) == 2.9  # newest round wins
        assert mod._calm_anchor(0.1, 4) == 7.5
        assert mod._calm_anchor(0.1, 8) is None
        assert mod._calm_anchor(0.01, 4) is None
