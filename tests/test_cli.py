"""CLI surface tests: csv2tsprofile + tspredictor (the reference's two
built binaries, .goreleaser.yml) — CSV parsing quirks, profile/history
docs, per-row observability files, and predictor output formats."""

import importlib.util
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = "/root/reference/tools/example-159"


def _load(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_csv2tsprofile_end_to_end(tmp_path):
    csv_path = tmp_path / "wave.csv"
    with open(csv_path, "w") as f:
        f.write("label,value\n")  # header: non-numeric cells silently skipped
        for i in range(300):
            f.write(f"row{i},{50 + 40 * math.sin(i / 10):.3f}\n")

    mod = _load("csv2tsprofile")
    out = tmp_path / "p.json"
    hist_out = tmp_path / "h.json"
    states_out = tmp_path / "s.txt"
    args = mod.parse_args(
        [str(csv_path), "--states", "10", "--buffersize", "5", "--fixedbound",
         "--fixedmax", "100", "--output", str(out),
         "--out-history", str(hist_out), "--out-states", str(states_out)]
    )
    profile = mod.run(args)

    doc = json.loads(out.read_text())
    assert doc == json.loads(json.dumps(profile, sort_keys=True))
    assert [t["metric"] for t in doc["roottx"]] == ["metric_0"]
    # 301 rows (the all-skipped header still counts as a TSInput,
    # main.go:179-193 + profiler.go:107) -> 60 complete 5-chunks, the 300th
    # data row stays in the open buffer; one chunk carried no metric_0 value
    assert doc["roottx"][0]["stats"]["count"] == 299
    assert doc["settings"]["buffersize"] == 5
    hist = json.loads(hist_out.read_text())
    assert set(hist) == {"currentPhase", "historicStates", "nextState", "periodPath"}
    # one observability line per input row
    assert len(states_out.read_text().splitlines()) == 301


def test_tspredictor_on_reference_fixture():
    """Run the CLI as a subprocess on the real example-159 artifacts and
    check the likeliness table matches the pinned golden vectors."""
    if not os.path.isdir(FIXTURE):
        import pytest

        pytest.skip("reference fixture not present")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "tspredictor.py"),
         "likeliness", "-p", f"{FIXTURE}/out.profile.json",
         "-y", f"{FIXTURE}/out.history.json", "--steps", "1"],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert out[0] == "state,metric_0,metric_1,metric_2"
    rows = [line.split(",") for line in out[1:]]
    assert [int(r[1]) for r in rows] == [10, 78, 12, 0, 0, 0, 0, 0, 0, 0]
    assert [int(r[2]) for r in rows] == [0, 0, 0, 0, 0, 0, 0, 0, 4, 96]

    sim = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "tspredictor.py"),
         "simulate", "-p", f"{FIXTURE}/out.profile.json",
         "-y", f"{FIXTURE}/out.history.json", "--steps", "10"],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert sim[0] == "metric_0,metric_1,metric_2"
    assert len(sim) == 11
    for line in sim[1:]:
        assert all(0 <= int(s) < 10 for s in line.split(","))


def test_plot_roottx_on_reference_fixture(tmp_path):
    """A32: heatmap plot of the root tx matrices (tools/plotRootTx:31-43) —
    stdlib-PNG fallback; validated against the real example-159 profile."""
    if not os.path.isdir(FIXTURE):
        import pytest

        pytest.skip("reference fixture not present")
    import struct

    mod = _load("plot_roottx")
    with open(f"{FIXTURE}/out.profile.json") as f:
        profile = json.load(f)
    written = mod.plot(profile, str(tmp_path), cell=8)
    assert sorted(os.path.basename(p) for p in written) == [
        "txplot-metric_0.png", "txplot-metric_1.png", "txplot-metric_2.png",
    ]
    for p in written:
        d = open(p, "rb").read()
        assert d[:8] == b"\x89PNG\r\n\x1a\n"
        w, h = struct.unpack(">II", d[16:24])
        assert (w, h) == (80, 80)  # 10 states x 8 px
    # matrix extraction quirk: missing from-state idents -> all-zero row
    rows = mod.tx_matrix({"1": {"nextProbs": [5, 95]}}, 2)
    assert rows == [[0, 0], [5, 95]]


def test_evlog_analyze_reads_rolling_zstd_log(tmp_path, capsys):
    """Spark 4's default event log is a rolling directory of zstd files:
    read in index order (9 before 10), it gives the totals of the same
    events in one uncompressed file."""
    import pyarrow as pa

    mod = _load("evlog_analyze")
    events = []
    for job, (sub, done) in enumerate([(1000, 3000), (4500, 5000)]):
        events.append({"Event": "SparkListenerJobStart", "Job ID": job,
                       "Submission Time": sub, "Properties": {}})
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": job,
                       "Task Info": {"Launch Time": sub, "Finish Time": done}})
        events.append({"Event": "SparkListenerJobEnd", "Job ID": job,
                       "Completion Time": done})
    lines = [json.dumps(e) + "\n" for e in events]
    plain = tmp_path / "events.json"
    plain.write_text("".join(lines))
    rolling = tmp_path / "eventlog_v2_app-1"
    rolling.mkdir()
    (rolling / "appstatus_app-1").write_text("")
    for index, part in ((9, lines[:4]), (10, lines[4:])):
        with pa.output_stream(str(rolling / f"events_{index}_app-1.zstd"),
                              compression="zstd") as out:
            out.write("".join(part).encode())

    want = mod.main(str(plain))
    assert want == {"jobs": 2, "job_s": 2.5, "gap_s": 1.5}
    assert mod.main(str(rolling)) == want
    assert "sum(gaps)=1.5s" in capsys.readouterr().out
