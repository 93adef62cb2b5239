"""Offline build of the benchmark package (the program's main sources plus
the harness) and the classpath it runs on.

The build is skipped when nothing it compiles has changed since the last
build in this checkout: the stamp is a hash of every source and build file.
"""
import hashlib
import os
import subprocess
import sys

# The offline flags of the repository's tier-1 build.
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx3g")


def _inputs(root):
    bench = os.path.join(root, "perfbench")
    paths = [os.path.join(bench, "build.sbt"), os.path.join(bench, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    return sorted(paths)


def stamp(root):
    h = hashlib.sha256()
    for p in _inputs(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(root, timeout=850):
    """Build if needed; return the runtime classpath."""
    bench = os.path.join(root, "perfbench")
    cache = os.path.join(bench, "target", "perfbench-classpath.txt")
    want = stamp(root)
    if os.path.exists(cache):
        with open(cache) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=bench, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=timeout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise RuntimeError("benchmark build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(want + "\n" + cp)
    return cp
