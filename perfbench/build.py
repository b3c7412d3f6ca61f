"""Build file of the serving benchmark.

Compiles the engine (every Scala file under the repository's
`src/main/scala`) together with the benchmark harness
(`perfbench/src`) in one scalac pass. The compiler, the Scala library
and Spark itself are the jars of the Spark distribution the engine
builds against (`$SPARK_HOME/jars`, or the distribution that
`spark-submit` on PATH belongs to), so nothing is fetched.

Outputs go to `.bench_build/perfbench/<hash>/classes` under the
repository root, keyed by a hash of every input source, so a checkout
compiles once and later runs reuse the classes.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build" / "perfbench"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return Path(home) / "jars"


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    harness = sorted((BENCH_DIR / "src").rglob("*.scala"))
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return program + harness


def build(log=sys.stderr) -> Path:
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD_DIR / h.hexdigest()[:16]
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-6000:])
    (out / "ok").write_text("ok\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
