"""The north-rule deployment shape, literally: `spark-submit --py-files
mrmr_spark.zip tools/run_pipeline.py` in a SEPARATE process, with the
package delivered ONLY via the zip (the script copy lives in a temp dir,
so its sys.path fallback cannot reach the repo checkout). Asserts the
resumable-pipeline contract end to end: phase manifests written with
per-partition lineage + metrics, k features selected, and a second
submit resuming every phase from its checkpoint instead of recomputing.

The zip ships every module, so every module must import: a deletion that
leaves a dangling import fails the suite, not a user's import.
"""

import importlib
import json
import os
import pkgutil
import shutil
import subprocess
import sys
import zipfile

import pyspark


def _spark_submit() -> str:
    # the pip pyspark's own launcher — same version as the library under
    # test (a system /opt/spark could be a different Spark)
    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _run_submit(cmd, env):
    return subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)


def test_every_module_imports():
    import mrmr_spark

    names = [m.name for m in pkgutil.walk_packages(mrmr_spark.__path__, "mrmr_spark.")]
    for name in names:
        importlib.import_module(name)
    assert "mrmr_spark.streaming.sessions" in names


def test_spark_submit_pyfiles_pipeline_and_resume(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from mrmr_spark.sources.transcripts import write_transcripts_parquet

    corpus = str(tmp_path / "corpus.parquet")
    write_transcripts_parquet(corpus, n_convs=80, mean_turns=10, seed=5)

    zpath = tmp_path / "mrmr_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(repo, "mrmr_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))

    # copy the entrypoint OUT of the repo: its dirname-parent sys.path
    # fallback then points at tmp, so `import mrmr_spark` must resolve
    # from the --py-files zip — the actual cluster deployment mechanism
    script = tmp_path / "bin" / "run_pipeline.py"
    script.parent.mkdir()
    shutil.copy(os.path.join(repo, "tools", "run_pipeline.py"), script)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    ckpt = str(tmp_path / "ckpt")
    cmd = [
        _spark_submit(), "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", str(zpath),
        str(script), "--input", corpus, "--checkpoint-dir", ckpt, "--k", "3",
    ]
    proc = _run_submit(cmd, env)
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-3000:])
    out = json.loads(proc.stdout[proc.stdout.find("{"):])
    assert len(out["selected"]) == 3
    phases = {m["phase"]: m for m in out["phases"]}
    assert set(phases) == {"ingest", "features"}
    for name in phases:
        mpath = os.path.join(ckpt, name, "manifest.json")
        assert os.path.exists(mpath)
        man = json.load(open(mpath))
        # per-partition lineage + metrics are in the manifest itself
        assert man["n_rows"] > 0 and len(man["partitions"]) >= 1
        assert sum(p["rows"] for p in man["partitions"]) == man["n_rows"]
    assert phases["features"]["n_rows"] < phases["ingest"]["n_rows"]  # null-target filter

    # second submit: every phase must resume from its manifest (same ids,
    # read-back instead of recompute) and select the same features
    proc2 = _run_submit(cmd, env)
    assert proc2.returncode == 0, (proc2.stdout[-2000:], proc2.stderr[-3000:])
    out2 = json.loads(proc2.stdout[proc2.stdout.find("{"):])
    assert out2["selected"] == out["selected"]
    for m2 in out2["phases"]:
        assert m2["manifest_id"] == phases[m2["phase"]]["manifest_id"]
