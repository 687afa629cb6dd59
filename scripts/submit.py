"""Launch the pipeline via spark-submit --py-files (north_rule launch mode).

Zips the package, then exec's spark-submit with the CLI module.  Master
defaults to local[*] (every core of this host); pass --master yarn /
k8s:// etc. on a real cluster — nothing in the job is master-specific.

    python scripts/submit.py extract --input ... --output ... --checkpoint ...
    python scripts/submit.py --master local[8] datagen --output /tmp/corpus
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "full_lattice_search_spark"


def build_zip(dest: str) -> str:
    path = os.path.join(dest, "fls.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return path


def main() -> int:
    argv = sys.argv[1:]
    master = "local[*]"
    if argv and argv[0] == "--master":
        master = argv[1]
        argv = argv[2:]

    tmp = tempfile.mkdtemp(prefix="fls_submit_")
    try:
        pyz = build_zip(tmp)
        # a tiny launcher script that dispatches into the zipped package
        runner = os.path.join(tmp, "run_job.py")
        with open(runner, "w") as f:
            f.write(
                "from full_lattice_search_spark.cli import main\n"
                "import sys\n"
                "sys.exit(main(sys.argv[1:]))\n"
            )
        spark_submit = shutil.which("spark-submit") or os.path.join(
            os.path.dirname(shutil.which("pyspark") or ""), "spark-submit"
        )
        cmd = [
            spark_submit,
            "--master",
            master,
            "--py-files",
            pyz,
            "--conf",
            "spark.sql.adaptive.enabled=true",
            runner,
            *argv,
        ]
        print("+ " + " ".join(cmd), file=sys.stderr)
        return subprocess.call(cmd)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
