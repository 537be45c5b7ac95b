"""bench.py harness helpers — pure-Python, no Spark session needed.

The retime/storm-rejection machinery decides what lands in the committed
BENCH snapshot, so its parsing and filtering logic deserves pins: a bug
here silently contaminates (or silently hides) performance numbers.
"""

from __future__ import annotations

import json
import sys

import pytest

sys.path.insert(0, "/root/repo")

import bench  # noqa: E402


def test_load_prior_times_reads_own_and_driver_shapes(tmp_path, monkeypatch):
    # own shape: top-level queries map
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q_a": 1.5, "q_b": 0.2}})
    )
    # driver shape: parsed null, payload (front-truncated) in tail
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps(
            {
                "parsed": None,
                "tail": 'ncated..., "q_a": 0.9, "q_c": 2.0}, "sf": "0.1"}',
            }
        )
    )
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    prior = bench.load_prior_times({"q_a", "q_b", "q_c"})
    assert prior == {"q_a": 0.9, "q_b": 0.2, "q_c": 2.0}


def test_load_prior_times_filters_unknown_names(tmp_path, monkeypatch):
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q_a": 1.0, "n_errors": 3.0}})
    )
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    assert bench.load_prior_times({"q_a"}) == {"q_a": 1.0}


def test_load_prior_times_filters_by_scale_factor(tmp_path, monkeypatch):
    # sf0.001 record must NOT contribute priors to an sf0.1 run (its times
    # are 10-100x lower — mixing scales made the tripwire fire falsely)
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q_a": 0.05}, "sf": "0.001"})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"queries": {"q_a": 1.2}, "sf": "0.1"})
    )
    # undeterminable sf: skipped too
    (tmp_path / "BENCH_r03.json").write_text(json.dumps({"queries": {"q_a": 0.01}}))
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    assert bench.load_prior_times({"q_a"}, sf="0.1") == {"q_a": 1.2}
    # no sf argument: legacy behavior, everything contributes
    assert bench.load_prior_times({"q_a"}) == {"q_a": 0.01}


def test_detect_regressions_trips_only_past_3x_prior():
    prior = {"q_a": 1.0, "q_b": 0.5}
    results = {"q_a": 3.5, "q_b": 1.4, "q_new": 9.0}  # q_new: no prior
    reg = bench.detect_regressions(results, prior)
    assert reg == {"q_a": {"best_sec": 3.5, "prior_best_sec": 1.0}}
    # exactly-3x does not trip (strict >)
    assert bench.detect_regressions({"q_a": 3.0}, prior) == {}


def test_micro_timed_discards_storm_runs(monkeypatch):
    # deterministic "clock": five clean ~1 s runs with one 30x storm
    seq = iter([1.0, 1.01, 30.0, 0.99, 1.02, 1.0])
    monkeypatch.setattr(bench, "timed_all", lambda fn, n: [next(seq)])
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: (0, 0))  # steal 0%
    monkeypatch.setattr(bench, "MICRO_RUNS", 5)
    stats: dict = {}
    best = bench.micro_timed(lambda: None, stats, "m")
    rec = stats["m"]
    assert best == 0.99
    assert rec["discarded_storm_runs"] == [30.0]
    assert len(rec["runs"]) == 5
    assert rec["std"] < 0.05  # storm no longer contaminates the summary
    # r11 attribution arrays stay parallel to their run arrays
    assert len(rec["steal_pct"]) == len(rec["runs"])
    assert len(rec["discarded_steal_pct"]) == len(rec["discarded_storm_runs"])


def test_micro_timed_retroactively_discards_inflated_head(monkeypatch):
    # first runs contaminated; a later clean run reveals them as outliers
    seq = iter([10.0, 9.5, 1.0, 1.01, 0.99, 1.02, 1.0])
    monkeypatch.setattr(bench, "timed_all", lambda fn, n: [next(seq)])
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: (0, 0))  # steal 0%
    monkeypatch.setattr(bench, "MICRO_RUNS", 5)
    stats: dict = {}
    best = bench.micro_timed(lambda: None, stats, "m")
    rec = stats["m"]
    assert best == 0.99
    assert set(rec["discarded_storm_runs"]) == {10.0, 9.5}
    assert all(t <= 3 * 0.99 for t in rec["runs"])
    assert len(rec["steal_pct"]) == len(rec["runs"])
    assert len(rec["discarded_steal_pct"]) == len(rec["discarded_storm_runs"])


def test_load_prior_times_prefers_committed_bench_over_working_tree(
    tmp_path, monkeypatch
):
    # The script overwrites the working-tree BENCH.json on every run, so the
    # tripwire reference must come from git HEAD: a back-to-back re-run
    # comparing against its own previous (storm-inflated) output would
    # self-ratify the storm (observed r10: run 1 events block 3-9x slow,
    # run 2 read run 1's numbers as "prior" and reported zero regressions).
    import subprocess

    def git(*argv):
        subprocess.run(
            ["git", "-C", str(tmp_path), *argv],
            check=True,
            capture_output=True,
            env={
                "GIT_AUTHOR_NAME": "t",
                "GIT_AUTHOR_EMAIL": "t@t",
                "GIT_COMMITTER_NAME": "t",
                "GIT_COMMITTER_EMAIL": "t@t",
                "HOME": str(tmp_path),
                "PATH": bench.os.environ["PATH"],
            },
        )

    git("init", "-q")
    (tmp_path / "BENCH.json").write_text(
        json.dumps({"queries": {"q_a": 0.5}, "sf": "0.1"})
    )
    git("add", "BENCH.json")
    git("commit", "-q", "-m", "committed snapshot")
    # a fresh run overwrites the working tree with a storm-inflated record
    (tmp_path / "BENCH.json").write_text(
        json.dumps({"queries": {"q_a": 4.0}, "sf": "0.1"})
    )
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    assert bench.load_prior_times({"q_a"}, sf="0.1") == {"q_a": 0.5}
    assert bench._PRIOR_SOURCE["weak"] is False  # HEAD priors = strong


def test_load_prior_times_ignores_untracked_round_files(tmp_path, monkeypatch):
    # r11 fix: BENCH_r*.json priors must ALSO come from HEAD — the driver
    # writes BENCH_r{N}.json post-HEAD (untracked), so a working-tree glob
    # let a query absent from the committed BENCH.json take its tripwire
    # prior from same-session, possibly storm-inflated output.
    import subprocess

    def git(*argv):
        subprocess.run(
            ["git", "-C", str(tmp_path), *argv],
            check=True,
            capture_output=True,
            env={
                "GIT_AUTHOR_NAME": "t",
                "GIT_AUTHOR_EMAIL": "t@t",
                "GIT_COMMITTER_NAME": "t",
                "GIT_COMMITTER_EMAIL": "t@t",
                "HOME": str(tmp_path),
                "PATH": bench.os.environ["PATH"],
            },
        )

    git("init", "-q")
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q_a": 0.5}, "sf": "0.1"})
    )
    git("add", "BENCH_r01.json")
    git("commit", "-q", "-m", "committed round record")
    # post-commit the driver drops an UNTRACKED, storm-inflated round file
    # and the working-tree copy of the committed one gets overwritten too
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q_a": 9.9}, "sf": "0.1"})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"queries": {"q_a": 4.0, "q_b": 4.0}, "sf": "0.1"})
    )
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    prior = bench.load_prior_times({"q_a", "q_b"}, sf="0.1")
    assert prior == {"q_a": 0.5}  # untracked r02 (and the dirty working
    # copy of r01) contribute nothing — q_b correctly has NO prior


def test_micro_gated_primary_block_matches_headline(monkeypatch):
    # r11 fix: when the quiet-gate retime WINS, the primary micro_stats
    # block must be the retime's (min(primary.runs) == headline); the storm
    # pass stays visible under <name>_storm_pass. r12: micro_gated is a
    # module-level function, so this exercises bench.py's ACTUAL body
    # (pre-r12 the test re-implemented the closure line-for-line and a
    # bench.py regression could not fail it).
    calls = {"n": 0}

    def fake_micro_timed(fn, stats, name):
        calls["n"] += 1
        if calls["n"] == 1:  # storm pass: 10x the prior
            stats[name] = {"runs": [10.0, 10.2], "mean": 10.1, "std": 0.1}
            return 10.0
        stats[name] = {"runs": [1.0, 1.1], "mean": 1.05, "std": 0.05}
        return 1.0

    monkeypatch.setattr(bench, "micro_timed", fake_micro_timed)
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    micro_stats: dict = {}
    retimed: list = []

    headline = bench.micro_gated(
        "m", lambda: None, {"m": 1.0}, micro_stats, retimed
    )
    assert headline == 1.0
    assert min(micro_stats["m"]["runs"]) == headline
    assert micro_stats["m"]["source"] == "retime"
    assert micro_stats["m_storm_pass"]["runs"] == [10.0, 10.2]
    assert "m_retime" not in micro_stats
    assert retimed == ["m"]


def test_micro_gated_keeps_first_pass_when_retime_loses(monkeypatch):
    calls = {"n": 0}

    def fake_micro_timed(fn, stats, name):
        calls["n"] += 1
        t = 4.0 if calls["n"] == 1 else 5.0  # retime is WORSE
        stats[name] = {"runs": [t], "mean": t, "std": 0.0}
        return t

    monkeypatch.setattr(bench, "micro_timed", fake_micro_timed)
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    micro_stats: dict = {}
    retimed: list = []
    headline = bench.micro_gated(
        "m", lambda: None, {"m": 1.0}, micro_stats, retimed
    )
    assert headline == 4.0
    assert micro_stats["m"]["source"] == "first_pass"
    assert micro_stats["m_retime"]["runs"] == [5.0]


def test_micro_timed_rejects_high_steal_runs(monkeypatch):
    # r12 steal gate: a clean-looking wall time taken under high hypervisor
    # steal must not enter the kept array — it understates quiet-box speed.
    seq = iter([0.5, 1.0, 1.01, 0.99])
    monkeypatch.setattr(bench, "timed_all", lambda fn, n: [next(seq)])
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench, "MICRO_RUNS", 3)
    monkeypatch.setattr(bench, "MICRO_STEAL_MAX", 1.5)
    # per attempt _cpu_ticks is read twice: (start, end). First attempt
    # samples 8% steal, the rest 0%.
    ticks = iter([(0, 0), (8, 100), (0, 0), (0, 100), (0, 0), (0, 100),
                  (0, 0), (0, 100)])
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: next(ticks))
    stats: dict = {}
    best = bench.micro_timed(lambda: None, stats, "m")
    rec = stats["m"]
    assert best == 0.99
    assert rec["steal_rejected_runs"] == [0.5]  # fast but stolen: rejected
    assert rec["steal_rejected_pct"] == [8.0]
    assert rec["runs"] == [1.0, 1.01, 0.99]
    assert rec["steal_gate_pct"] == 1.5
    assert rec["steal_gate_exhausted"] is False


def test_micro_timed_disarms_steal_gate_when_box_never_quiets(monkeypatch):
    # rejection budget = 2x MICRO_RUNS; past it, runs are KEPT with their
    # steal recorded and the record is flagged storm-crossed — the bench
    # must terminate with a non-empty array even on an all-storm box.
    monkeypatch.setattr(bench, "timed_all", lambda fn, n: [1.0])
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench, "MICRO_RUNS", 2)
    monkeypatch.setattr(bench, "MICRO_STEAL_MAX", 1.5)
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: (0, 0))

    # fake constant 9% steal by patching the tick reader pairwise
    ticks = iter([(0, 0), (9, 100)] * 20)
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: next(ticks))
    stats: dict = {}
    best = bench.micro_timed(lambda: None, stats, "m")
    rec = stats["m"]
    assert best == 1.0
    assert len(rec["runs"]) == 2
    assert len(rec["steal_rejected_runs"]) == 4  # 2x MICRO_RUNS budget
    assert rec["steal_gate_exhausted"] is True
    assert all(s == 9.0 for s in rec["steal_pct"])


def test_resolve_modes_partial_output_never_clobbers_bench_json():
    # full run -> BENCH.json; pure micro-only -> MICRO_RETIME.json; any
    # BENCH_ONLY run -> a QUERY-SET-DERIVED RETIME_QUERIES_<hash>.json
    # (r14, ADVICE r13: a single shared BENCH_ONLY default let an
    # unrelated future retime silently overwrite the committed
    # RETIME_QUERIES.json evidence artifact; deriving the name from the
    # set makes same-set re-runs refresh in place and cross-set collisions
    # impossible)
    assert bench.resolve_modes({}) == (False, set(), "BENCH.json")
    assert bench.resolve_modes({"BENCH_MICRO_ONLY": "1"}) == (
        True, set(), "MICRO_RETIME.json",
    )
    micro_only, only, out = bench.resolve_modes(
        {"BENCH_ONLY": "ann_ivf_pq_topk, ivf_cell_health"}
    )
    assert micro_only is False
    assert only == {"ann_ivf_pq_topk", "ivf_cell_health"}
    assert out.startswith("RETIME_QUERIES_") and out.endswith(".json")
    # stable for the set regardless of spelling order; distinct otherwise;
    # and never the bare committed-artifact name
    assert out == bench.resolve_modes(
        {"BENCH_ONLY": "ivf_cell_health,ann_ivf_pq_topk"}
    )[2]
    assert out != bench.retime_default_out({"knn_topk"})
    assert bench.retime_default_out({"knn_topk"}) != "RETIME_QUERIES.json"
    # combined mode: BENCH_ONLY wins the default (micros ride along)
    assert bench.resolve_modes(
        {"BENCH_MICRO_ONLY": "1", "BENCH_ONLY": "knn_topk"}
    )[2] == bench.retime_default_out({"knn_topk"})
    assert bench.resolve_modes(
        {"BENCH_MICRO_ONLY": "1", "BENCH_OUT": "X.json"}
    )[2] == "X.json"


def test_validate_only_names_flags_unknown_and_skip_listed():
    queries = {"knn_topk": None, "ann_recall": None, "events_hourly": None}
    # ann_recall is SKIP-listed (composition of other timed plans) — naming
    # it must be rejected, not silently timed-as-nothing; the three
    # addressable extras pass
    assert bench.validate_only_names(set(), queries) == []
    assert bench.validate_only_names(
        {"knn_topk", "knn_topk_numpy", "pq_build_codes", "minhash_index_build"},
        queries,
    ) == []
    assert bench.validate_only_names(
        {"ann_recall", "knn_topkk", "events_hourly"}, queries
    ) == ["ann_recall", "knn_topkk"]


def test_timed_all_steal_records_parallel_arrays(monkeypatch):
    monkeypatch.setattr(bench, "guard_contention", lambda: None)
    ticks = iter([(0, 0), (2, 100), (0, 0), (0, 100)])
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: next(ticks))
    times, steals = bench.timed_all_steal(lambda: None, 2)
    assert len(times) == 2 and steals == [2.0, 0.0]


def test_micro_timed_disarm_path_never_salvages(monkeypatch):
    # the gate-disarm path (budget exhausts, later runs kept) must not
    # trigger the salvage: every measurement lives in exactly one array
    # (4 rejected attempts + 2 kept runs = 6 attempts, none double-counted)
    monkeypatch.setattr(bench, "timed_all", lambda fn, n: [1.0])
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench, "MICRO_RUNS", 2)
    monkeypatch.setattr(bench, "MICRO_STEAL_MAX", 1.5)
    ticks = iter([(0, 0), (9, 100)] * 50)
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: next(ticks))
    stats: dict = {}
    bench.micro_timed(lambda: None, stats, "m")
    rec = stats["m"]
    assert rec["steal_salvaged"] is False
    assert len(rec["steal_rejected_runs"]) == 4  # 2x MICRO_RUNS budget
    assert len(rec["runs"]) == 2


def test_salvage_rejected_keeps_arrays_disjoint():
    # the salvage branch itself is unreachable through micro_timed under
    # current budgets (post-disarm attempts are always kept), so its
    # disjointness contract is pinned on the extracted helper directly:
    # the n lowest-steal runs move to kept and LEAVE the rejected arrays.
    times, steals, rej, rej_pct = bench._salvage_rejected(
        [0.9, 0.5, 0.7, 0.6], [12.0, 3.0, 9.0, 5.0], 2
    )
    assert times == [0.5, 0.6] and steals == [3.0, 5.0]
    assert rej == [0.9, 0.7] and rej_pct == [12.0, 9.0]
    # nothing double-counted, nothing lost
    assert sorted(times + rej) == sorted([0.9, 0.5, 0.7, 0.6])


def test_micro_timed_fails_loud_when_no_timings_at_all(monkeypatch):
    # r14 (ADVICE r13): if the attempt budget yields ZERO kept and ZERO
    # rejected runs (reachable only through a future budget misconfig,
    # simulated here with MICRO_RUNS=0), the salvage would hand empty
    # arrays to the mean and crash with a bare ZeroDivisionError; the
    # guard must instead raise a diagnosis that names the budget wiring.
    monkeypatch.setattr(bench, "timed_all", lambda fn, n: [1.0])
    monkeypatch.setattr(bench, "wait_for_quiet", lambda tag: None)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench, "MICRO_RUNS", 0)
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: (0, 0))
    stats: dict = {}
    with pytest.raises(RuntimeError, match="zero runs kept"):
        bench.micro_timed(lambda: None, stats, "m")


def test_record_headline_steal_marks_retime_pass_boundary(monkeypatch):
    # partial-mode retime arrays must carry the pass boundary so an
    # adjudicator can tell which pass supplied the committed min; this
    # drives bench.py's ACTUAL module-level body (main's timed_headline is
    # a thin partial-check wrapper around it)
    monkeypatch.setattr(bench, "guard_contention", lambda: None)
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: (0, 0))
    headline_steal: dict = {}
    bench.record_headline_steal(headline_steal, "q", lambda: None, 2)
    best = bench.record_headline_steal(
        headline_steal, "q", lambda: None, 2, retime=True
    )
    rec = headline_steal["q"]
    assert rec["retime_start_idx"] == 2
    assert len(rec["runs"]) == 4 and len(rec["steal_pct"]) == 4
    assert best == round(min(rec["runs"][2:]), 4)


def test_load_prior_times_fallback_excludes_bench_json(tmp_path, monkeypatch):
    # r12 (ADVICE): the no-git fallback must NOT read the working-tree
    # BENCH.json — this script overwrites it every run, so including it
    # reintroduces the r10 self-ratification hole for non-git checkouts.
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q_a": 0.5}, "sf": "0.1"})
    )
    (tmp_path / "BENCH.json").write_text(
        json.dumps({"queries": {"q_a": 0.01, "q_b": 0.01}, "sf": "0.1"})
    )
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    prior = bench.load_prior_times({"q_a", "q_b"}, sf="0.1")
    assert prior == {"q_a": 0.5}  # BENCH.json contributed nothing
    assert bench._PRIOR_SOURCE["weak"] is True  # surfaced as weak_priors


def test_detect_structure_regressions_fires_on_task_growth():
    """r16 (VERDICT r15 task 1): the steal-immune half of the tripwire —
    task-count growth past 1.5x prior (+8 slack) flags a PLAN regression;
    flat or missing structure never fires, and small absolute jumps on
    tiny queries stay inside the slack."""
    prior = {
        "q_big": {"jobs": 10, "stages": 20, "tasks": 100},
        "q_tiny": {"jobs": 1, "stages": 2, "tasks": 4},
    }
    # 100 -> 160 tasks: past 1.5*100+8
    reg = bench.detect_structure_regressions(
        {"q_big": {"jobs": 12, "stages": 25, "tasks": 160}}, prior
    )
    assert reg == {
        "q_big": {"tasks": 160, "prior_tasks": 100, "jobs": 12, "prior_jobs": 10}
    }
    # 100 -> 150 tasks: at the factor, inside slack — no fire
    assert (
        bench.detect_structure_regressions(
            {"q_big": {"jobs": 10, "stages": 20, "tasks": 150}}, prior
        )
        == {}
    )
    # tiny query: 4 -> 12 tasks is 3x but within the +8 absolute slack
    # (AQE split flap, not a plan regression)
    assert (
        bench.detect_structure_regressions(
            {"q_tiny": {"jobs": 1, "stages": 2, "tasks": 12}}, prior
        )
        == {}
    )
    # no prior row -> never fires
    assert (
        bench.detect_structure_regressions(
            {"q_new": {"jobs": 5, "stages": 9, "tasks": 999}}, prior
        )
        == {}
    )


def test_timed_structured_records_final_run_structure():
    """timed_structured keeps best-of-N wall semantics and records the
    LAST run's jobs/stages/tasks (steady state) on the capture object."""

    class FakeCap:
        def __init__(self):
            self.snaps = 0
            self.last = None

        def snapshot(self):
            self.snaps += 1
            return {self.snaps}

        def record(self, before):
            self.last = {"jobs": self.snaps, "stages": 0, "tasks": 0}
            return self.last

    cap = FakeCap()
    best = bench.timed_structured(lambda: None, 3, cap)
    assert best >= 0.0
    assert cap.snaps == 3  # one snapshot per run
    assert cap.last == {"jobs": 3, "stages": 0, "tasks": 0}
    # cap=None path stays pure timing
    assert bench.timed_structured(lambda: None, 2, None) >= 0.0


def test_load_prior_structure_only_from_the_same_config(tmp_path, monkeypatch):
    """Task counts follow the partition count, so a structure prior from
    another config or scale factor must count as no prior: a committed
    local[8] record read by a local[32] run flagged ~30 of 152 queries on
    unchanged code."""
    import subprocess

    def git(*argv):
        subprocess.run(
            ["git", "-C", str(tmp_path), *argv],
            check=True,
            capture_output=True,
            env={
                "GIT_AUTHOR_NAME": "t",
                "GIT_AUTHOR_EMAIL": "t@t",
                "GIT_COMMITTER_NAME": "t",
                "GIT_COMMITTER_EMAIL": "t@t",
                "HOME": str(tmp_path),
                "PATH": bench.os.environ["PATH"],
            },
        )

    structure = {"q_a": {"jobs": 2, "stages": 3, "tasks": 16}}
    git("init", "-q")
    (tmp_path / "BENCH.json").write_text(
        json.dumps(
            {
                "structure": structure,
                "sf": "0.1",
                "config": {"master": "local[8]", "shuffle_partitions": "8"},
            }
        )
    )
    git("add", "BENCH.json")
    git("commit", "-q", "-m", "committed snapshot")
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda p: str(tmp_path / "bench.py")
    )
    assert bench.load_prior_structure("local[8]", "8", "0.1") == structure
    assert bench.load_prior_structure("local[8]", 8, "0.1") == structure
    assert bench.load_prior_structure("local[32]", "32", "0.1") == {}
    assert bench.load_prior_structure("local[8]", "32", "0.1") == {}
    assert bench.load_prior_structure("local[8]", "8", "0.001") == {}
