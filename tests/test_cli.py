"""The CLI (``python -m docling_translate_spark``) runs the checkpointed
extraction job from any working directory."""

import os
import subprocess
import sys
from pathlib import Path

from docling_translate_spark.schema import TRANSCRIPT_SCHEMA
from docling_translate_spark.synth import gen_rows

ROOT = str(Path(__file__).resolve().parents[1])

_CLI_RUN = """
import sys
sys.path.insert(0, {root!r})
sys.argv = ["docling_translate_spark"] + {argv!r}
from docling_translate_spark import __main__ as cli
cli.main()
"""


def test_cli_processes_every_turn(spark, tmp_path):
    rows = gen_rows(6, 3)
    src = str(tmp_path / "transcripts")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)
    argv = ["--input", src, "--out", str(tmp_path / "out"), "--ckpt", str(tmp_path / "ckpt")]
    argv += ["--cores", "2", "--units", "3"]
    work = tmp_path / "cwd"
    work.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, "-c", _CLI_RUN.format(root=ROOT, argv=argv)],
        cwd=work,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert f"total turns={len(rows)} " in done.stdout, done.stdout
