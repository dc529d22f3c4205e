"""bench.py takes its extraction keys from one perfbench extract run and
refuses a run that failed its output or fingerprint checks."""

from __future__ import annotations

import pytest

import bench

_INFO = {"host": {"nproc": 4, "mem_gb": 15.0},
         "metrics": {"docs_per_s": {"value": 20000.0, "unit": "docs/s"},
                     "scaling_eff": {"value": 0.8, "unit": "ratio"}},
         "info": {"docs": 12000, "pass_s": {"nproc": [0.7, 0.6, 0.8], "1core": [2.4, 2.5]},
                  "fingerprint_equal": True, "sample_ok": True}}


def _fake(monkeypatch, correct=True, same=True):
    head = {**_INFO, "info": {**_INFO["info"], "fingerprint_equal": same}}
    monkeypatch.setattr(bench, "_last_lines",
                        lambda n, *args: [head, {"correct": correct, "failed": int(not correct)}])


def test_extraction_keys(monkeypatch):
    _fake(monkeypatch)
    ext = bench.extraction()
    assert ext["n_docs"] == 12000 and ext["sec"] == 0.7
    sc = ext["scaling"]
    assert (sc["n_small"], sc["n_large"]) == (1, 4)
    assert sc["docs_per_sec_small"] == round(12000 / 2.45, 1)
    assert sc["docs_per_sec_large"] == 20000.0 and sc["efficiency"] == 0.8
    assert sc["identical_results"] is True
    assert sc["all_pairs"] == [{k: sc[k] for k in ("n_small", "n_large", "docs_per_sec_small",
                                                   "docs_per_sec_large", "efficiency")}]


@pytest.mark.parametrize("correct,same", [(False, True), (True, False)])
def test_failed_checks_exit_nonzero(monkeypatch, correct, same):
    _fake(monkeypatch, correct, same)
    with pytest.raises(SystemExit) as e:
        bench.extraction()
    assert e.value.code not in (None, 0)
