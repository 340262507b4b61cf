#!/usr/bin/env python3
"""Establish the expected output fingerprints at one scale.

1. `graft.Verify` writes each query's output on the generated tables as
   parquet, with the query's oracle SQL.
2. `tools/check.py` compares every output with DuckDB running that SQL on
   the same tables. Any failure stops here.
3. The fingerprints of the verified outputs go into expected.json, and the
   check's output into oracle/check_sf<scale>.txt.

Usage: python3 perfbench/oracle.py <scale> <query prefix>...
  e.g. python3 perfbench/oracle.py 0.01 q01_ q03_ q27_ q192_ q193_ q66_
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    scale, prefixes = float(sys.argv[1]), sys.argv[2:]
    cp = build.classpath()
    data_dir, _ = build.data(scale)
    work = os.path.join(build.OUT, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    out, tmp = os.path.join(work, "out"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(prefixes),
               SPARK_GRAFT_CPUS=str(run.nproc()), SPARK_LOCAL_DIRS=tmp)

    def jvm(main_class, args, **kw):
        return subprocess.run(run.jvm_cmd(cp, tmp, main_class, args), env=env, text=True,
                              check=True, **kw)

    try:
        jvm("graft.Verify", [data_dir, out])
        check = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                                data_dir, out], stdout=subprocess.PIPE, text=True)
        print(check.stdout, end="")
        if check.returncode != 0:
            return 1
        fps = json.loads(jvm("perfbench.OracleFingerprints",
                             ["--cpus", str(run.nproc()), "--dir", out],
                             stdout=subprocess.PIPE).stdout.strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    expected.setdefault(str(scale), {}).update(fps)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    with open(os.path.join(HERE, "oracle", f"check_sf{scale}.txt"), "w") as f:
        f.write(check.stdout)
    print(f"recorded {len(fps)} fingerprints at scale {scale}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
