"""Benchmark set-up that is not timed: building the harness (and with it
the engine) from source, and providing the fixtures."""
import hashlib
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")

# the engine's fixtures: the provided sf0.1 directory (TESTDATA.md), and sf1
# generated from it by tools/gen_scaled.py
SF1_ROWS = {"lineitem": 6_000_000, "orders": 1_500_000, "events": 1_000_000,
            "documents": 50_000, "embeddings": 20_000}

# Spark on JDK 17 outside spark-submit needs these (same list as the
# repository's build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def check_checkout():
    """The benchmark builds the engine from the checkout it sits in."""
    need = ["build.sbt", "tools/gen_scaled.py",
            "src/main/scala/graft/SparkEntry.scala"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: not inside an engine checkout "
                         f"(missing {', '.join(missing)})")


def _source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.exists(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compiles the harness and the engine when their sources changed and
    returns the runtime classpath and the digest of the sources it was
    built from."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = _source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read(), digest
    log("building the harness and the engine with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines()
             if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as f:
        return f.read(), digest


def testdata_dir():
    """Where the provided fixtures (TESTDATA.md) live: $GRAFT_TESTDATA, else
    `testdata` in the home directory."""
    return os.environ.get("GRAFT_TESTDATA",
                          os.path.expanduser(os.path.join("~", "testdata")))


def _rows(path):
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]


def sf1_ok(dst):
    try:
        return all(_rows(os.path.join(dst, f"{t}.parquet")) == n
                   for t, n in SF1_ROWS.items())
    except (duckdb.Error, OSError):
        return False


def fixture(sf):
    """Directory of the fixture at `sf`, generating sf1 when it is
    missing or has the wrong row counts."""
    src = os.path.join(testdata_dir(), "sf0.1")
    if not os.path.exists(os.path.join(src, "lineitem.parquet")):
        raise SystemExit(f"perfbench: no sf0.1 fixture at {src} "
                         "(set GRAFT_TESTDATA)")
    if sf == "sf0.1":
        return src
    dst = os.path.join(WORK, "fixtures", "sf1")
    if not sf1_ok(dst):
        log("generating the sf1 fixture with tools/gen_scaled.py")
        subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_scaled.py"),
                        src, dst, "10"], check=True, stdout=subprocess.DEVNULL,
                       timeout=600)
        if not sf1_ok(dst):
            raise SystemExit("perfbench: generated sf1 fixture has wrong row counts")
    return dst


def java_cmd(cp, conf_path, heap, tmpdir, trace):
    # a traced run keeps deeper call sites so that the innermost engine
    # frame of a job is not cut off
    depth = ["-Dspark.callstack.depth=200"] if trace else []
    # a fixed heap and young generation keep the resident set from
    # following G1's run-to-run sizing choices
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g",
             f"-Djava.io.tmpdir={tmpdir}"] + ADD_OPENS +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            depth + ["-cp", cp, "perfbench.Harness", conf_path])
