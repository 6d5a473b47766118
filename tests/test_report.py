"""Text table + yaml config-merge helpers (pure python, no Spark)."""

import argparse

import pytest

from homonim_spark.report import format_table, merge_cli_config


def test_format_table_reference_style():
    recs = [
        {"band": "B1", "mean": 1.0, "std": 0.0, "n": 144},
        {"band": "B2", "mean": 0.25, "std": 0.125, "n": 144},
    ]
    txt = format_table(recs)
    lines = txt.splitlines()
    assert lines[0].split() == ["band", "mean", "std", "n"]
    assert set(lines[1]) <= {"-", " "}          # dashed rule under the header
    assert lines[2].split() == ["B1", "1.000", "0.000", "144"]
    assert lines[3].split() == ["B2", "0.250", "0.125", "144"]
    # numbers right-aligned: the mean column ends at a fixed offset
    assert lines[2].index("1.000") + 5 == lines[3].index("0.250") + 5


def test_format_table_empty_and_none():
    assert format_table([]) == ""
    txt = format_table([{"a": None, "b": "x"}])
    assert "-" in txt.splitlines()[2]


def _args(**kw):
    ns = argparse.Namespace(model="gain-blk-offset", kernel=[5, 5],
                            chunk=4, proc_crs="auto", conf=None)
    for k, v in kw.items():
        setattr(ns, k, v)
    return ns


def test_merge_cli_config_fills_unspecified(tmp_path):
    cfg = tmp_path / "c.yaml"
    cfg.write_text("model: gain-offset\nkernel: [3, 3]\nchunk: 8\n")
    args = _args()
    argv = ["fuse", "--conf", str(cfg), "--chunk", "2"]
    merge_cli_config(args, argv, str(cfg),
                     parser_dests=["model", "kernel", "chunk", "proc_crs"])
    assert args.model == "gain-offset"    # config fills default
    assert args.kernel == [3, 3]
    assert args.chunk == 4                # CLI-given wins (not overridden)


def test_merge_cli_config_rejects_unknown_key(tmp_path):
    cfg = tmp_path / "c.yaml"
    cfg.write_text("no_such_param: 1\n")
    with pytest.raises(ValueError, match="no_such_param"):
        merge_cli_config(_args(), [], str(cfg), parser_dests=["model"])


def test_merge_cli_config_dash_underscore_equivalence(tmp_path):
    cfg = tmp_path / "c.yaml"
    cfg.write_text("proc-crs: src\n")
    args = _args()
    merge_cli_config(args, [], str(cfg), parser_dests=["proc_crs"])
    assert args.proc_crs == "src"
