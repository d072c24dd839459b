"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness with the Scala compiler of the Spark install that
graft's build.sbt compiles against (its `unmanagedBase`). No sbt, no
dependency resolution: the classpath is exactly that jar directory.

    python3 feederbench/build.py        # from the repository root

Outputs go to .bench_build/feederbench/classes and are reused while the
sources are unchanged (a content hash of every input is the stamp).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "feederbench", "classes")


def jar_dir(root):
    sbt = open(os.path.join(root, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars in {d}")
    return d


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/src/**/*.scala"), recursive=True))
    return main, harness


def _stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _run(cmd):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"build: {cmd[0]} failed with code {r.returncode}")


def ensure_built(root):
    """Compile if needed; return the runtime classpath string."""
    jars = jar_dir(root)
    jar_cp = os.path.join(jars, "*")
    main, harness = _sources(root)
    if not main:
        raise SystemExit("build: no Scala sources under src/main")
    resources = sorted(glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True))
    resources = [r for r in resources if os.path.isfile(r)]
    out = os.path.join(root, OUT)
    graft_out, harness_out = os.path.join(out, "graft"), os.path.join(out, "harness")
    cp = os.pathsep.join([harness_out, graft_out, jar_cp])
    stamp = _stamp(root, [os.path.join(root, "build.sbt")] + main + resources + harness)
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(graft_out)
    os.makedirs(harness_out)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))[0]
                for p in ("compiler", "library", "reflect")]
    scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
              "scala.tools.nsc.Main", "-nowarn"]
    # build.sbt: scalacOptions += "-deprecation" (warnings only; silenced here)
    _run(scalac + ["-d", graft_out, "-classpath", jar_cp] + main)
    res_root = os.path.join(root, "src/main/resources")
    for r in resources:
        dst = os.path.join(graft_out, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    _run(scalac + ["-d", harness_out, "-classpath",
                   os.pathsep.join([graft_out, jar_cp])] + harness)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
