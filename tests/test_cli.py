"""CLI lifecycle: gen → replay → compact → vacuum → finalize → status,
all through the argparse entry point (the spark-submit surface)."""

from __future__ import annotations

import json
from pathlib import Path

from omop_meds_spark.__main__ import main


def test_cli_full_lifecycle(spark, tmpdir_path, capsys):
    # `--cores` paths call get_spark, which getOrCreate-reuses the session
    # fixture's JVM — each step stays in-process.
    wal, tbl, out = f"{tmpdir_path}/wal", f"{tmpdir_path}/tbl", f"{tmpdir_path}/final"

    assert main(["gen", "--wal", wal, "--events", "4000", "--repos", "8",
                 "--files", "4"]) == 0
    gen = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen["files"] == 4 and gen["events"] >= 4000

    assert main(["replay", "--wal", wal, "--table", tbl, "--cores", "8",
                 "--files-per-batch", "2"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["batches_applied"] == 2 and rep["final_keys"] > 0

    # change feed: `--since` is the last version already seen (exclusive),
    # so from v0 exactly the second batch's commit (v1) is in range
    assert main(["changes", "--table", tbl, "--since", "0",
                 "--cores", "8"]) == 0
    chg = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert chg["changes"] > 0 and list(chg["by_commit"]) == ["1"]
    assert all(v["deletes"] >= 0 for v in chg["by_commit"].values())

    mv = f"{tmpdir_path}/mv"
    assert main(["view", "--table", tbl, "--out", mv, "--dims", "lang",
                 "--sum", "token_count", "--cores", "8"]) == 0
    v1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v1["refreshed"] and v1["groups"] > 0
    assert main(["view", "--table", tbl, "--out", mv, "--dims", "lang",
                 "--sum", "token_count", "--cores", "8"]) == 0
    v2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not v2["refreshed"] and v2["groups"] == v1["groups"]  # no-op

    assert main(["view", "--table", tbl, "--out", f"{tmpdir_path}/hist",
                 "--scd2", "--cores", "8"]) == 0
    sv = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sv["refreshed"] and sv["intervals"] > 0

    assert main(["compact", "--table", tbl, "--cores", "8"]) == 0
    comp = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(comp["compacted_buckets"]) > 0

    # the files metadata listing (no Spark): every line is one live file
    assert main(["files", "--table", tbl]) == 0
    flines = [json.loads(s) for s in capsys.readouterr().out.strip().splitlines()]
    assert all(f["rows"] > 0 and f["bytes"] > 0 for f in flines)
    assert main(["files", "--table", tbl, "--summary"]) == 0
    fsum = [json.loads(s) for s in capsys.readouterr().out.strip().splitlines()]
    assert sum(b["files"] for b in fsum) == len(flines)
    # compacted buckets read back at generation depth 1
    assert all(b["generations"] == 1 for b in fsum
               if b["bucket"] in comp["compacted_buckets"])

    # grow the bucket layout mid-life; everything downstream (vacuum,
    # finalize, status) runs against the rewritten table
    assert main(["rebucket", "--table", tbl, "--buckets", "64",
                 "--cores", "8"]) == 0
    rb = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rb == {"rebucketed": True, "from": 32, "to": 64}

    assert main(["vacuum", "--table", tbl, "--keep-versions", "1"]) == 0
    vac = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vac["deleted_files"] > 0

    assert main(["fsck", "--table", tbl]) == 0
    fs = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fs == {"orphan_files": [], "torn_manifests": [], "removed": 0}

    # tag the current snapshot, restore to it after nothing changed (no-op
    # diff), then drop the tag
    assert main(["tag", "--table", tbl, "--name", "rel-1"]) == 0
    tg = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert tg["tagged"] == "rel-1" and "rel-1" in tg["tags"]
    assert main(["restore", "--table", tbl, "--ref", "rel-1",
                 "--cores", "8"]) == 0
    rs = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rs["restored"] is False and rs["changed"] == 0
    assert main(["tag", "--table", tbl, "--name", "rel-1", "--drop"]) == 0
    dg = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert dg["dropped"] is True and dg["tags"] == {}

    # a NEW view over the vacuumed table bootstraps from live state
    assert main(["view", "--table", tbl, "--out", f"{tmpdir_path}/mv2",
                 "--dims", "lang", "--cores", "8"]) == 0
    v3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v3["refreshed"] and v3["groups"] == v1["groups"]

    assert main(["finalize", "--table", tbl, "--out", out, "--cores", "8"]) == 0
    fin = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fin["meds_version"] == "0.4"
    meta = Path(out) / "metadata"
    assert all((meta / f).exists()
               for f in ("dataset.json", "codes.parquet", "subject_splits.parquet"))

    assert main(["status", "--table", tbl]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["committed_batches"] == 2 and st["buckets"] > 0


def test_cli_stream_reports_events(spark, tmpdir_path, capsys):
    import pyarrow.parquet as pq

    wal, tbl = f"{tmpdir_path}/wal", f"{tmpdir_path}/tbl"
    assert main(["gen", "--wal", wal, "--events", "3000", "--repos", "8",
                 "--files", "4"]) == 0
    capsys.readouterr()
    assert main(["stream", "--wal", wal, "--table", tbl, "--cores", "8",
                 "--files-per-batch", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batches_applied"] == 2 and out["final_keys"] > 0
    # every WAL row, redelivered copies included
    assert out["n_events"] == sum(pq.ParquetFile(f).metadata.num_rows
                                  for f in Path(wal).glob("*.parquet"))
    assert out["events_per_s"] > 0


def test_package_runs_from_pyfiles_zip(tmpdir_path):
    """spark-submit --py-files ships the package as a zip on sys.path
    (zipimport) — the whole package must import and do driver-side work
    from inside the archive (no __file__-relative data access on import)."""
    import subprocess
    import sys
    import zipfile
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    zpath = Path(tmpdir_path) / "omop_meds_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted((repo / "omop_meds_spark").rglob("*")):
            if f.suffix in (".py", ".yaml"):
                z.write(f, f.relative_to(repo))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import omop_meds_spark\n"
        "assert 'omop_meds_spark.zip' in omop_meds_spark.__file__, omop_meds_spark.__file__\n"
        "from omop_meds_spark.operators.similarity import plane_weights\n"
        "from omop_meds_spark.event_config import EventConfig\n"
        "from omop_meds_spark.table import _absorb\n"
        "assert plane_weights(4, 2) and _absorb(-1, set(), 0) == (0, set())\n"
        "print('zip-ok')\n"
    )
    out = subprocess.run([sys.executable, "-c", code, str(zpath)],
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "zip-ok" in out.stdout
