"""tools/measure.py: the sweep's counts, plan files and stage tables on
registry queries, the shuffle guard's refusal, the A/B summary arithmetic,
the README's registry counts, and a ratchet on what tools/ may hold."""

import importlib.util
import pathlib
import re
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"

_spec = importlib.util.spec_from_file_location("measure", TOOLS / "measure.py")
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)

#: groupby_tpch_q1 aggregates through a shuffle
SWEPT = ["find_range", "groupby_tpch_q1", "set_ops"]


@pytest.fixture(scope="module")
def entry():
    return measure.load_registry(str(ROOT))


def test_sweep_counts_plans_and_stages(spark, sf_dir, entry, tmp_path):
    doc = measure.sweep(spark, entry, sf_dir, SWEPT, runs=1,
                        plans_dir=str(tmp_path))
    assert doc["errors"] == {}
    qs = entry.queries()
    for q in SWEPT:
        assert doc["counts"][q] == qs[q](spark, sf_dir).count()
        assert (tmp_path / f"{q}.txt").read_text().startswith(
            "== Physical Plan ==")
        assert doc["stages"][q]["run"], q
        assert set(doc["cpu_s"][q]["run"]) == {"driver", "jvm", "workers"}
    assert any(f.startswith("Exchange") for f in doc["flags"]["groupby_tpch_q1"])
    # the guarded timed run re-ran the map side of the shuffle
    assert any(r["shuffle_write_bytes"] > 0
               for r in doc["stages"]["groupby_tpch_q1"]["run"])


def test_shuffle_guard_raises_without_tracker():
    with pytest.raises(RuntimeError, match="map-output tracker"):
        measure.shuffle_guard(SimpleNamespace(sparkContext=None))


class _Tracker:
    """A map-output tracker whose shuffle ``gone`` is dropped between the
    key listing and its unregister call, failing with ``error``."""

    def __init__(self, error):
        self.error, self.unregistered = error, []

    def shuffleStatuses(self):
        keys = [1, 2]
        it = SimpleNamespace(hasNext=lambda: bool(keys), next=lambda: keys.pop(0))
        return SimpleNamespace(keySet=lambda: SimpleNamespace(iterator=lambda: it))

    def unregisterAllMapAndMergeOutput(self, sid):
        if sid == 1:
            java = SimpleNamespace(_target_id="", getClass=lambda: SimpleNamespace(
                getName=lambda: self.error))
            raise Py4JJavaError("unregister", java)
        self.unregistered.append(sid)


def _session(tracker):
    env = SimpleNamespace(mapOutputTracker=lambda: tracker)
    jsc = SimpleNamespace(sc=lambda: SimpleNamespace(env=lambda: env))
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))


def test_shuffle_guard_skips_only_a_shuffle_dropped_meanwhile():
    tracker = _Tracker("org.apache.spark.ShuffleStatusNotFoundException")
    measure.shuffle_guard(_session(tracker))()
    assert tracker.unregistered == [2]
    tracker = _Tracker("org.apache.spark.SparkException")
    with pytest.raises(Py4JJavaError):
        measure.shuffle_guard(_session(tracker))()


def test_ab_summary_arithmetic():
    parent = [10.0, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    # nine wins by 1 s: inside the parent's IQR (16.75 - 12.25 = 4.5)
    change = [p - 1 for p in parent[:9]] + [20.0]
    s = measure.ab_summary(parent, change)
    assert (s["pairs"], s["change_wins"], s["parent_wins"]) == (10, 9, 1)
    assert (s["parent_median"], s["change_median"]) == (14.5, 13.5)
    assert s["parent_iqr"] == 4.5
    assert s["parent_iqr_over_median"] == round(4.5 / 14.5, 4)
    assert not s["change_gain_shown"]
    s = measure.ab_summary(parent, [p - 5 for p in parent])
    assert s["change_wins"] == 10 and s["change_gain_shown"]
    # eight wins are too few however large the gap; a tie counts for neither
    s = measure.ab_summary(parent, [p - 9 for p in parent[:8]] + [18.0, 19.0])
    assert (s["change_wins"], s["parent_wins"]) == (8, 0)
    assert not s["change_gain_shown"]


def test_readme_counts_match_registry(entry):
    readme = (ROOT / "README.md").read_text()
    n_queries = int(re.search(r"(\d+)\s+registered queries", readme).group(1))
    n_oracles = int(
        re.search(r"ALL\s+(\d+)\s+with\s+ANSI-SQL oracles", readme).group(1))
    assert n_queries == len(entry.queries())
    assert n_oracles == len(entry.oracle_sql())


def test_tools_hold_no_round_scripts_or_checkout_path():
    files = [p for p in TOOLS.rglob("*")
             if p.is_file() and "__pycache__" not in p.parts]
    assert not [p.name for p in files if re.search(r"_r\d+\.py$", p.name)]
    # a tool finds the repository from its own location, so a copy of the
    # tree runs its own registry and package
    assert not [p.name for p in files if str(ROOT) in p.read_text()]
