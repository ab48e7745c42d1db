"""Build file of the benchmark: compiles the engine's main sources together
with ``perfbench/src`` into one class directory, with the Scala compiler that
ships with Spark, so no build tool or download is needed.

The output lands in ``.bench_build/classes-<hash>`` at the checkout root,
keyed by a hash of every source file, so an unchanged tree is built once;
a new build removes the class directories of earlier trees.

    python3 perfbench/build.py          # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = Path(__file__).resolve().parent / "src"
BUILD_DIR = ROOT / ".bench_build"


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else next to ``spark-submit``."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    if not ENGINE_SRC.is_dir():
        raise SystemExit("perfbench: engine sources %s not found; run from a full checkout" % ENGINE_SRC)
    found = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    return found


def build(log=sys.stderr):
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / ("classes-" + h.hexdigest()[:16])
    if (out / ".complete").exists():
        return out
    BUILD_DIR.mkdir(exist_ok=True)
    tmp = BUILD_DIR / "tmp"
    tmp.mkdir(exist_ok=True)
    staging = Path(str(out) + ".partial")
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=%s" % tmp,
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", cp, "@%s" % argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=log)
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise SystemExit("perfbench: compile failed (exit %d)" % res.returncode)
    (staging / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    staging.rename(out)
    for old in BUILD_DIR.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
