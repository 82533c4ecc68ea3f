"""Tests of the benchmark's own checkers, generators and metric lists.

    python -m pytest perfbench/tests -q

No Spark session is started: the checkers are plain functions over the
rows and frames the workloads collect.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import telemetry  # noqa: E402


def _deliveries(*batches, stamp="2026-01-01 00:00:00"):
    """Reading-envelope rows (asset, timestamp, readings) per batch, as the
    playback callback receives them, summarized the way the workload does."""
    return [
        checks.summarize(
            [("a", stamp, {"seq": str(s), "row": str(r)}) for s, r in keys], batch_id=i
        )
        for i, keys in enumerate(batches)
    ]


def _keys(deliveries):
    return [d.keys for d in deliveries]


EXPECTED = {(s, r) for s in range(2) for r in range(3)}


# -- playback ------------------------------------------------------------------
def test_exactly_once_accepts_every_reading_once():
    got = _deliveries([(0, 0), (0, 1), (0, 2)], [(1, 0), (1, 1), (1, 2)])
    assert checks.playback_exactly_once(_keys(got), EXPECTED) == []


def test_exactly_once_fails_on_a_dropped_reading():
    got = _deliveries([(0, 0), (0, 1), (0, 2)], [(1, 0), (1, 2)])
    errs = checks.playback_exactly_once(_keys(got), EXPECTED)
    assert errs and "never delivered" in errs[0]


def test_exactly_once_fails_on_a_duplicated_reading():
    got = _deliveries([(0, 0), (0, 1), (0, 2)], [(1, 0), (1, 1), (1, 2), (0, 1)])
    errs = checks.playback_exactly_once(_keys(got), EXPECTED)
    assert errs and "more than once" in errs[0]


def test_exactly_once_fails_on_an_unexpected_reading():
    got = _deliveries(sorted(EXPECTED) + [(7, 0)])
    assert any("unexpected" in e for e in checks.playback_exactly_once(_keys(got), EXPECTED))


def test_burst_stamps_must_be_equal_within_a_batch():
    assert checks.burst_stamps({"2026-01-01 00:00:00"}) == []
    assert checks.burst_stamps({"2026-01-01 00:00:00", "2026-01-01 00:00:01"})


def test_continuous_stamps_stay_inside_the_anchor_second():
    anchor = pd.Timestamp("2026-01-01 00:00:00", tz="UTC").timestamp()
    ok = {"2026-01-01 00:00:00", "2026-01-01 00:00:00.999875"}
    assert checks.continuous_stamps(ok, anchor - 0.2, anchor + 0.5) == []
    spill = ok | {"2026-01-01 00:00:01.000125"}
    assert checks.continuous_stamps(spill, anchor - 0.2, anchor + 1.5)
    # anchor second before the trigger started: a stale stamp
    assert checks.continuous_stamps(ok, anchor + 3, anchor + 4)


# -- ETL -------------------------------------------------------------------------
def _repaired(frame):
    out = frame.copy()
    for c in gen.CHANNELS:
        out[c] = out[c].interpolate(method="linear", limit_direction="both")
    return out


def test_etl_check_accepts_the_pandas_fill_in_any_row_order():
    frame = gen.etl_frame(seed=3, rows=200)
    assert frame[list(gen.CHANNELS)].isna().any().all()  # every channel has holes
    out = _repaired(frame).sample(frac=1.0, random_state=0)
    assert checks.etl_linear_fill(frame, out) == []


def test_etl_check_fails_on_a_wrong_fill():
    frame = gen.etl_frame(seed=3, rows=200)
    out = _repaired(frame)
    hole = int(np.flatnonzero(frame["ch2"].isna())[0])
    out.loc[hole, "ch2"] += 1e-3
    errs = checks.etl_linear_fill(frame, out)
    assert errs and errs[0].startswith("ch2:")


def test_etl_check_fails_on_a_hole_left_open_or_a_lost_row():
    frame = gen.etl_frame(seed=3, rows=200)
    assert checks.etl_linear_fill(frame, frame)  # holes left as NaN
    assert checks.etl_linear_fill(frame, _repaired(frame).iloc[1:])


def test_etl_check_reads_spark_style_part_files(tmp_path):
    frame = gen.etl_frame(seed=5, rows=50)
    out = _repaired(frame)
    out.iloc[:20].to_csv(tmp_path / "part-00000-x.csv", index=False)
    out.iloc[20:].to_csv(tmp_path / "part-00001-x.csv", index=False)
    (tmp_path / "_SUCCESS").write_text("")
    assert checks.etl_linear_fill(frame, checks.read_csv_dir(str(tmp_path))) == []


# -- analytics -------------------------------------------------------------------
def test_row_count_mismatch_fails():
    assert checks.row_count("q", 5, 5) == []
    assert checks.row_count("q", 4, 5)
    assert checks.row_count("q", 5, None)  # nothing recorded is a failure too


# -- generators ------------------------------------------------------------------
def test_playback_files_are_deterministic_and_land_whole(tmp_path):
    a = gen.land_playback_dir(str(tmp_path / "a"), seed=9, n_files=3, rows=100)
    b = gen.land_playback_dir(str(tmp_path / "b"), seed=9, n_files=3, rows=100)
    c = gen.land_playback_dir(str(tmp_path / "c"), seed=10, n_files=3, rows=100)
    read = [[Path(p).read_bytes() for p in paths] for paths in (a, b, c)]
    assert read[0] == read[1]
    assert read[0] != read[2]
    assert sorted(os.listdir(tmp_path / "a")) == [os.path.basename(p) for p in a]  # no tmp left
    mtimes = [os.path.getmtime(p) for p in a]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3  # the stream's pick-up order
    lines = read[0][1].decode().splitlines()
    assert lines[0] == gen.PLAYBACK_HEADER and lines[1].startswith("1,0,") and len(lines) == 101


def test_etl_input_is_deterministic(tmp_path):
    gen.write_etl_input(str(tmp_path / "a.csv"), seed=4, rows=300)
    gen.write_etl_input(str(tmp_path / "b.csv"), seed=4, rows=300)
    gen.write_etl_input(str(tmp_path / "c.csv"), seed=5, rows=300)
    a, b, c = ((tmp_path / f"{x}.csv").read_bytes() for x in "abc")
    assert a == b and a != c


def test_tables_are_deterministic(tmp_path):
    for d in ("a", "b"):
        gen.write_tables(str(tmp_path / d), sf=0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes(), n


# -- metric lists and helpers ----------------------------------------------------
def test_benchmark_json_lists_the_metrics_the_runs_print():
    import report  # imports workloads, which starts no Spark
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert telemetry.percentile(xs, 50) == 5
    assert telemetry.percentile(xs, 90) == 9
    assert telemetry.percentile(xs, 100) == 10
    assert telemetry.percentile([], 90) == 0.0


def test_proc_cpu_reads_this_process():
    cpu = telemetry.ProcCpu(jvm_pid=None).read()
    assert cpu["jvm_cpu_s"] == 0.0
    assert cpu["python_cpu_s"] > 0.0


def test_host_steal_share_is_steal_over_busy_plus_steal():
    hs = telemetry.HostSteal()
    hs.samples = [(0.0, 100, 10), (1.0, 130, 20), (2.0, 160, 20)]
    assert hs.share(0.0, 1.0) == 10 / 40
    assert hs.share(0.5, 1.5) == 10 / 70  # widened to the samples around it
    assert hs.share(1.0, 2.0) == 0.0
    busy, steal = telemetry.HostSteal.read()
    assert busy > 0 and steal >= 0
