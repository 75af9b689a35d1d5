"""Smoke tests for the operator CLIs `jobs/wap.py`, `jobs/export.py`
and `jobs/refresh_mv.py`. Each runs in-process on the shared test
session: `sys.argv` is monkeypatched, `etl_spark.session.get_spark`
returns the session and its `stop` is a no-op, so no new JVM starts.
Each test checks the printed JSON line and the state left on disk."""

from __future__ import annotations

import json
import os
import sys

import pandas as pd

from etl_spark.lake.changes import read_changes
from etl_spark.lake.export import read_exported
from etl_spark.lake.mv import read_mv
from etl_spark.lake.table import LakeTable
from tests.test_export import _merge
from tests.test_lake_table import make_table, seed


def _run(monkeypatch, capsys, spark, module, *argv) -> dict:
    """Run `module.main()` with `argv`; return its last stdout line as
    JSON."""
    import etl_spark.session

    monkeypatch.setattr(sys, "argv", [module.__name__, *argv])
    monkeypatch.setattr(etl_spark.session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    capsys.readouterr()
    module.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_wap_cli_create_list_publish_drop(spark, tmp_path, monkeypatch, capsys):
    from etl_spark.jobs import wap

    t = make_table(spark, tmp_path)
    seed(spark, t)
    root = t.root
    fork = t.current_version()

    out = _run(monkeypatch, capsys, spark, wap,
               "--table-root", root, "create", "audit")
    assert out == {"job": "wap", "action": "create", "branch": "audit",
                   "fork_version": fork}
    _merge(spark, LakeTable(spark, root, branch="audit"),
           "c9", 0, "staged", 100)
    assert t.current_version() == fork  # main untouched until publish

    out = _run(monkeypatch, capsys, spark, wap, "--table-root", root, "list")
    assert out["branches"] == [
        {"name": "audit", "fork_version": fork, "head": fork + 1}
    ]

    out = _run(monkeypatch, capsys, spark, wap,
               "--table-root", root, "publish", "audit")
    assert out["main_version"] == fork + 1 == t.current_version()
    assert [r["text"] for r in t.lookup(["c9"]).collect()] == ["staged"]

    _run(monkeypatch, capsys, spark, wap,
         "--table-root", root, "create", "scratch")
    out = _run(monkeypatch, capsys, spark, wap,
               "--table-root", root, "drop", "scratch")
    assert out["action"] == "drop" and out["branch"] == "scratch"
    assert t.branches() == []


def test_export_cli_writes_feed_and_cursor(spark, tmp_path, monkeypatch, capsys):
    from etl_spark.jobs import export

    t = make_table(spark, tmp_path)
    seed(spark, t)
    _merge(spark, t, "c0", 0, "u1", 100)
    out_dir = str(tmp_path / "downstream")
    cur = t.current_version()

    out = _run(monkeypatch, capsys, spark, export,
               "--table-root", t.root, "--out-dir", out_dir)
    n_feed = read_changes(t, 0).count()
    assert out == {"job": "lake_export", "out_dir": out_dir,
                   "from_version": 0, "to_version": cur,
                   "rows_exported": n_feed}
    assert n_feed > 0 and read_exported(spark, out_dir).count() == n_feed
    with open(os.path.join(out_dir, "_cursor.json")) as fh:
        assert json.load(fh)["exported_version"] == cur

    # a second run has nothing to ship
    out = _run(monkeypatch, capsys, spark, export,
               "--table-root", t.root, "--out-dir", out_dir)
    assert out["rows_exported"] == 0


def test_refresh_mv_cli_matches_direct_aggregate(
    spark, tmp_path, monkeypatch, capsys
):
    from etl_spark.jobs import refresh_mv

    t = make_table(spark, tmp_path)
    seed(spark, t)
    mv_dir = str(tmp_path / "mv")
    argv = ("--table-root", t.root, "--mv-dir", mv_dir, "--dims", "conv_id",
            "--sum", "sum_turns=CAST(turn_idx AS LONG)")

    def direct() -> pd.DataFrame:
        pdf = t.read().toPandas()
        return (
            pdf.groupby("conv_id")
            .agg(n_rows=("turn_idx", "size"), sum_turns=("turn_idx", "sum"))
            .reset_index()
            .sort_values("conv_id")
            .reset_index(drop=True)
        )

    def stored() -> pd.DataFrame:
        return (
            read_mv(spark, mv_dir).toPandas()[["conv_id", "n_rows", "sum_turns"]]
            .sort_values("conv_id")
            .reset_index(drop=True)
        )

    out = _run(monkeypatch, capsys, spark, refresh_mv, *argv)
    assert out == {"job": "mv_refresh", "mv_dir": mv_dir, "from_version": 0,
                   "to_version": t.current_version(), "mode": "full"}
    pd.testing.assert_frame_equal(stored(), direct(), check_dtype=False)

    _merge(spark, t, "c7", 3, "new", 100)
    _merge(spark, t, "c0", 0, "", 101, op="D")
    out = _run(monkeypatch, capsys, spark, refresh_mv, *argv)
    assert out["mode"] == "incremental"
    pd.testing.assert_frame_equal(stored(), direct(), check_dtype=False)
