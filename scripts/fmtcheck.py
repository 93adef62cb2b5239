#!/usr/bin/env python3
"""Formatting gate (ci.sh step 1) — the `cargo fmt --check` analog
(reference CI: /root/reference/.github/workflows/ci.yml:34-50).

sbt-scalafmt cannot resolve in this zero-egress sandbox (the offline
coursier cache carries only sbt + scalatest/scalacheck), so this is a
dependency-free mechanical check of the invariants a formatter would
enforce, hard-failing like `cargo fmt --check` does:

  - no trailing whitespace
  - no tab characters (2-space indentation only)
  - LF line endings (no CRLF)
  - every file ends with exactly one newline
  - lines <= 120 columns, EXCEPT the classes a Scala formatter would
    leave alone or that are inherently atomic here: import lines,
    test("...") titles, triple-quoted literals, and `|`-margin lines
    inside embedded oracle SQL
  - no `SparkSession.builder()` outside src/main/scala/graft/GraftSession.scala:
    every session, in the program and in its specs, starts from
    `graft.GraftSession.builder`, so the session settings the results
    depend on live in one module
  - no `.conf.set(` or `.conf.unset(` in src/main outside
    src/main/scala/graft/engine/QueryStart.scala: a session's conf is
    shared by every query on it, so the program changes it only across a
    streaming query's start, under the start helper's lock
  - no `option("checkpointLocation"` in src/main outside the same module:
    every streaming query starts through that helper, so its per-query
    settings (confs, the local checkpoint file manager) reach them all

Exit 1 with a per-violation listing on any hit; exit 0 clean.
"""
import glob
import sys

MAX_COLS = 120
SESSION_BUILDER = "SparkSession.builder()"
SESSION_MODULE = "src/main/scala/graft/GraftSession.scala"
CONF_MUTATIONS = (".conf.set(", ".conf.unset(")
CHECKPOINT_OPTION = 'option("checkpointLocation"'
START_MODULE = "src/main/scala/graft/engine/QueryStart.scala"


def exempt(line: str) -> bool:
    s = line.lstrip()
    return (s.startswith("import ") or 'test("' in line
            or s.startswith("|") or '"""' in line)


def main() -> int:
    files = sorted(glob.glob("src/**/*.scala", recursive=True))
    files.append("build.sbt")
    bad = []
    for f in files:
        data = open(f, "rb").read()
        if b"\r\n" in data:
            bad.append(f"{f}: CRLF line endings")
        if not data.endswith(b"\n"):
            bad.append(f"{f}: missing newline at EOF")
        elif data.endswith(b"\n\n"):
            bad.append(f"{f}: multiple trailing newlines at EOF")
        for i, line in enumerate(data.decode("utf-8").split("\n")):
            n = i + 1
            if line != line.rstrip():
                bad.append(f"{f}:{n}: trailing whitespace")
            if "\t" in line:
                bad.append(f"{f}:{n}: tab character")
            if len(line) > MAX_COLS and not exempt(line):
                bad.append(f"{f}:{n}: {len(line)} cols (max {MAX_COLS})")
            if SESSION_BUILDER in line and f.startswith("src/") and f != SESSION_MODULE:
                bad.append(f"{f}:{n}: {SESSION_BUILDER} outside {SESSION_MODULE} "
                           "(use graft.GraftSession.builder)")
            if f.startswith("src/main/") and f != START_MODULE:
                if any(m in line for m in CONF_MUTATIONS):
                    bad.append(f"{f}:{n}: session conf mutation outside {START_MODULE} "
                               "(pass a per-query conf to QueryStart or a per-write option)")
                if CHECKPOINT_OPTION in line:
                    bad.append(f"{f}:{n}: streaming query started outside {START_MODULE} "
                               "(start it through graft.engine.QueryStart)")
    if bad:
        print(f"[fmtcheck] {len(bad)} violation(s):", file=sys.stderr)
        for b in bad:
            print(f"  {b}", file=sys.stderr)
        return 1
    print(f"[fmtcheck] {len(files)} files clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
