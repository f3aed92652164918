"""Operator scratch directories do not outlive the interpreter.

Lakehouse, store and fixture operators stage tables under a private
``gws_*`` temp directory that the returned DataFrame re-reads lazily,
so it can only be removed at exit.  A fresh interpreter (its own Spark
session) runs one such operator with ``TMPDIR`` pointed at a pytest
directory, then exits; nothing named ``gws_*`` may be left there.
"""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_lakehouse_scratch_dirs_removed_at_exit(tmp_path, sf_dir):
    script = textwrap.dedent(f"""
        import os, sys, tempfile
        sys.path.insert(0, {ROOT!r})
        from go_whisper_spark.operators.whisper_queries import w_lakehouse_mor
        from go_whisper_spark.session import get_spark

        spark = get_spark("scratch_dirs", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        w_lakehouse_mor(spark, {sf_dir!r}).collect()
        staged = [n for n in os.listdir(tempfile.gettempdir())
                  if n.startswith("gws_")]
        print("staged", len(staged))
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, check=True, timeout=600,
        capture_output=True, text=True,
    ).stdout
    # the operator did stage under TMPDIR, so the check below is not vacuous
    assert "staged 0" not in out and "staged " in out, out
    assert sorted(p.name for p in tmp_path.glob("gws_*")) == []
