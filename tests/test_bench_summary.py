"""bench_summary compare must be load-aware (VERDICT r12 "what's
wrong" #1): its no-arg default compared a contention-2.54 run against
a 1.73 run and printed `FASTER (0.917)` — a pure host-load artifact
presented as a performance verdict, the exact failure the history
tool was built to prevent. Pinned here: the default pairing picks
load-clean runs only (refusing when no clean pair exists), and any
verdict over a flagged side is stamped SUSPECT."""

from __future__ import annotations

import json

import pytest

from tools import bench_summary as bs


def _rec(label, total, contention, *, suspect=None, mc=None, sf=0.1,
         scale=1.0, cpus=None):
    # >= 20 entries so _is_full() accepts it; `scale` inflates every
    # entry uniformly — the signature of host load, not a code change
    queries = {f"q{i:02d}": round((0.1 + i * 0.05) * scale, 4)
               for i in range(24)}
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "contention_ratio": contention,
        "label": label,
    }
    if suspect is not None:
        out["contention_suspect"] = suspect
    if mc is not None:
        out["mc_vs_best_known"] = mc
    if cpus is not None:
        out["cpus"] = cpus
    return out


def _write(tmp_path, monkeypatch, recs):
    p = tmp_path / "BENCH_SUMMARY.jsonl"
    p.write_text("".join(json.dumps(r) + "\n" for r in recs))
    monkeypatch.setattr(bs, "SUMMARY", p)
    return p


def _last_json_line(capsys):
    out = capsys.readouterr().out
    for ln in reversed(out.strip().splitlines()):
        try:
            return json.loads(ln), out
        except json.JSONDecodeError:
            continue
    raise AssertionError(f"no JSON line in output:\n{out}")


def test_suspect_reasons_bands():
    assert bs.suspect_reasons(_rec("quiet", 140, 1.5, suspect=False,
                                   mc=1.1)) == []
    assert bs.suspect_reasons(_rec("stamped", 190, 2.5, suspect=True,
                                   mc=1.1))
    assert bs.suspect_reasons(_rec("mc-high", 150, 1.7, suspect=False,
                                   mc=1.89))
    # the driver's own quiet record stamps mc 1.47 — must stay clean
    assert bs.suspect_reasons(_rec("driver-quiet", 144, 1.73,
                                   suspect=False, mc=1.47)) == []
    # pre-r12 record with no stamps: raw-ratio fallback
    assert bs.suspect_reasons(_rec("old-loaded", 200, 2.54))
    assert bs.suspect_reasons(_rec("old-quiet", 140, 1.6)) == []


def test_default_compare_skips_loaded_latest(tmp_path, monkeypatch,
                                             capsys):
    """The r12 scenario: latest run is loaded (1.35x uniform uplift).
    The old default compared it blind; now the clean pair wins and the
    verdict is FLAT, not a phantom SLOWER."""
    _write(tmp_path, monkeypatch, [
        _rec("r11-quiet", 139.0, 1.49, suspect=False, mc=1.05),
        _rec("r12-quiet", 140.0, 1.54, suspect=False, mc=1.08,
             scale=1.01),
        _rec("r12-loaded", 190.0, 2.54, suspect=True, mc=2.39,
             scale=1.35),
    ])
    bs.compare()
    verdict, out = _last_json_line(capsys)
    assert verdict["verdict"] == "FLAT"
    assert verdict["suspect"] is False
    assert "r12-quiet" in out and "r12-loaded" not in out.split("B:")[1]


def test_default_compare_refuses_without_clean_pair(tmp_path,
                                                    monkeypatch,
                                                    capsys):
    _write(tmp_path, monkeypatch, [
        _rec("quiet-one", 139.0, 1.49, suspect=False, mc=1.05),
        _rec("loaded-a", 195.0, 2.69, suspect=True, mc=2.39,
             scale=1.4),
        _rec("loaded-b", 150.0, 1.72, suspect=True, mc=1.38,
             scale=1.08),
    ])
    with pytest.raises(SystemExit, match="SUSPECT"):
        bs.compare()
    out = capsys.readouterr().out
    assert "REFUSING" in out
    # the refusal lists every candidate with its reason
    assert "loaded-a" in out and "mc_vs_best_known" in out


def test_explicit_compare_of_loaded_pair_is_stamped_suspect(
        tmp_path, monkeypatch, capsys):
    """The exact r12 misleading pair — FASTER(0.917)-shaped — must now
    carry SUSPECT and the reasons, so it is unquotable as a perf win."""
    _write(tmp_path, monkeypatch, [
        _rec("loaded-heavy", 195.0, 2.54, suspect=True, mc=2.39,
             scale=1.5),
        _rec("loaded-light", 150.0, 1.73, suspect=True, mc=1.38,
             scale=1.375),
    ])
    bs.compare(0, 1)
    verdict, out = _last_json_line(capsys)
    assert verdict["suspect"] is True
    assert verdict["verdict"].startswith("SUSPECT")
    assert verdict["suspect_reasons"]["A"] and \
        verdict["suspect_reasons"]["B"]
    assert "host contention" in out


def test_explicit_compare_of_clean_pair_stays_clean(tmp_path,
                                                    monkeypatch,
                                                    capsys):
    _write(tmp_path, monkeypatch, [
        _rec("a", 140.0, 1.5, suspect=False, mc=1.0),
        _rec("b", 141.0, 1.55, suspect=False, mc=1.1, scale=1.005),
    ])
    bs.compare(0, 1)
    verdict, _ = _last_json_line(capsys)
    assert verdict["suspect"] is False
    assert verdict["verdict"] == "FLAT"


# a quiet 32-core record beside a noisier 4-core one: only the 4-core
# record may ever be the yardstick of a 4-core run
_HOSTS = [
    dict(_rec("c32-quiet", 90.0, 1.2, suspect=False, mc=1.0, cpus=32),
         cpu_calibration_mc_sec=0.7),
    dict(_rec("c32-quiet-2", 91.0, 1.25, suspect=False, mc=1.0, cpus=32),
         cpu_calibration_mc_sec=0.71),
    dict(_rec("c4-a", 300.0, 1.6, suspect=False, mc=1.0, cpus=4,
              scale=3.0), cpu_calibration_mc_sec=2.5),
    dict(_rec("no-cpus", 80.0, 1.1, suspect=False, mc=1.0),
         cpu_calibration_mc_sec=0.5),
]


def test_bench_reference_is_the_quietest_record_of_the_same_cpus(
        tmp_path, monkeypatch):
    """bench.py's contention yardstick compares like with like: the
    quietest reference and ``best_known_mc_sec`` come only from records
    of the run's own (sf, cpus) — never a 32-core record (or one that
    predates the ``cpus`` stamp) for a 4-core run."""
    import bench

    _write(tmp_path, monkeypatch, _HOSTS)
    monkeypatch.setattr(bench, "REPO", tmp_path)
    run = _rec("c4-run", 303.0, 1.6, scale=3.03)["queries"]
    got = bench._vs_quietest_reference(run, 0.1, 4)
    assert got["quietest_ref"]["label"] == "c4-a"
    assert got["best_known_mc_sec"] == 2.5
    assert got["contention_suspect"] is False
    # no record of the run's core count: no reference at all
    assert bench._vs_quietest_reference(run, 0.1, 8) == {}


def test_compare_pairs_records_of_the_same_cpus(tmp_path, monkeypatch,
                                               capsys):
    _write(tmp_path, monkeypatch, [
        *_HOSTS,
        _rec("c4-b", 303.0, 1.62, suspect=False, mc=1.0, cpus=4,
             scale=3.03),
    ])
    bs.compare()
    verdict, out = _last_json_line(capsys)
    assert "A: c4-a" in out and "B: c4-b" in out
    assert verdict["verdict"] == "FLAT"
    # explicit indices across core counts (or against a record
    # without cpus) are refused, like a cross-sf pair
    for other in (0, 3):
        with pytest.raises(SystemExit, match="core counts"):
            bs.compare(other, 4)
