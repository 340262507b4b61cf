#!/usr/bin/env python3
"""Build step of the benchmark: compile the program and the benchmark, and
generate the input tables. Everything lands under `.bench_build/perfbench`
in the checkout; a stamp of the inputs' content makes a repeated call a
no-op.

The program (`src/main/scala`) is compiled with the Scala compiler that
ships among Spark's jars, against those jars: the same inputs the root
`build.sbt` compiles from (the program has no resources and no Java
sources). The benchmark (`perfbench/src`) is compiled against the
program's classes.

Usage: python3 perfbench/build.py [scale]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

sys.path.insert(0, HERE)
import gen_data  # noqa: E402


class BuildError(Exception):
    pass


def _sources(top):
    found = []
    for dirpath, _, files in os.walk(top):
        found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _fresh(stamp_file, stamp):
    if not os.path.exists(stamp_file):
        return False
    with open(stamp_file) as f:
        return f.read() == stamp


def _compile(sources, classpath, out_dir, what):
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    args_file = out_dir + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{s}"' for s in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-cp", classpath, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"compiling {what} failed:\n{r.stdout[-4000:]}")


def _program_sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    sources = _sources(src)
    if not sources:
        raise BuildError(f"no program sources under {src}")
    return sources


def source_stamp():
    """Content hash of the program's sources (the checkout may not be a git
    repository, so this names the code a run measured)."""
    return _stamp(_program_sources())[:16]


def program_classes():
    """Compile src/main/scala (once per source state); returns its class dir."""
    sources = _program_sources()
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {SPARK_JARS}")
    out = os.path.join(OUT, "program-classes")
    stamp = _stamp(sources)
    if not _fresh(out + ".stamp", stamp):
        _compile(sources, os.path.join(SPARK_JARS, "*"), out, "the program")
        with open(out + ".stamp", "w") as f:
            f.write(stamp)
    return out


def bench_classes(program):
    """Compile perfbench/src against the program; returns its class dir."""
    sources = _sources(os.path.join(HERE, "src"))
    out = os.path.join(OUT, "bench-classes")
    stamp = _stamp(sources) + open(program + ".stamp").read()
    if not _fresh(out + ".stamp", stamp):
        _compile(sources, program + os.pathsep + os.path.join(SPARK_JARS, "*"), out,
                 "the benchmark")
        with open(out + ".stamp", "w") as f:
            f.write(stamp)
    return out


def data(scale):
    """Generate the input tables for `scale` (once); returns (dir, {table: rows})."""
    out = os.path.join(OUT, f"data-sf{scale}")
    stamp = _stamp([os.path.join(HERE, "gen_data.py")])
    rows_file = os.path.join(out, "rows.txt")
    if not _fresh(out + ".stamp", stamp) or not os.path.exists(rows_file):
        shutil.rmtree(out, ignore_errors=True)
        rows = gen_data.generate(out, scale)
        with open(rows_file, "w") as f:
            f.write("\n".join(f"{k} {v}" for k, v in sorted(rows.items())))
        with open(out + ".stamp", "w") as f:
            f.write(stamp)
    with open(rows_file) as f:
        rows = {k: int(v) for k, v in (line.split() for line in f if line.strip())}
    return out, rows


def classpath():
    """Build both class dirs; returns the run-time classpath."""
    program = program_classes()
    bench = bench_classes(program)
    return os.pathsep.join([bench, program, os.path.join(SPARK_JARS, "*")])


if __name__ == "__main__":
    print(classpath())
    print(data(float(sys.argv[1]) if len(sys.argv) > 1 else 0.01))
