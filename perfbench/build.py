"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships among the Spark jars named by the repo's build.sbt.

    python3 perfbench/build.py          # from the root of a checkout

Outputs go to .bench_build/ (or $CARGO_TARGET_DIR when set). Each part
is rebuilt only when a hash of its sources changes, so only the first
run in a checkout pays for the build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time


def spark_jars(root):
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d):
            return d
    raise RuntimeError("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def _sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(jars, classpath, sources, out_dir, stamp, log):
    stamp_file = os.path.join(out_dir, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    t0 = time.time()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", os.pathsep.join(classpath)]
    cmd.append("@" + argfile)
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"scalac failed (exit {rc}); see {log}")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return time.time() - t0


def build(root):
    """Returns (class directories, Spark jar dir, seconds spent compiling)."""
    jars = spark_jars(root)
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    jar_names = ",".join(sorted(os.listdir(jars)))
    prog_src = _sources(os.path.join(root, "src", "main", "scala"))
    if not prog_src:
        raise RuntimeError("no program sources under src/main/scala")
    harness_src = _sources(os.path.join(root, "perfbench", "harness"))
    prog_dir = os.path.join(out, "program")
    harness_dir = os.path.join(out, "harness")
    prog_stamp = _digest(prog_src, jar_names)
    spent = _compile(jars, [], prog_src, prog_dir, prog_stamp, log)
    spent += _compile(jars, [prog_dir], harness_src, harness_dir,
                      _digest(harness_src, prog_stamp), log)
    return [harness_dir, prog_dir], jars, spent


if __name__ == "__main__":
    try:
        dirs, _, spent = build(os.getcwd())
    except (OSError, RuntimeError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"built {' '.join(dirs)} in {spent:.1f}s")
