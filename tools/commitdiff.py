#!/usr/bin/env python3
"""Diff the graft commit files of two table trees.

    python3 tools/commitdiff.py ROOT_A ROOT_B [--show N]

Every table under ROOT_A or ROOT_B (a dir holding `manifest/commit_<N>`)
is paired by its path relative to its root, and its commit files are
compared after the parts that differ from run to run are normalised:

  - `ts=<epochMillis>`                      -> `ts=<ts>`
  - writer-private dir ids `v3_1a2b3c4d`, `dv3_…`, `pdv3_…` and epoch
    staging names `ep3_<tag>-<id>`, plain or URL-encoded after a `/`
                                            -> `v3_<id>`, `ep3_<id>`, …
  - UUIDs (part-file names, streaming query ids) -> `<uuid>`
  - the absolute path of each root and of its checkout (the nearest
    ancestor holding `build.sbt`)           -> `<root>`

Typical use: run the same specs in two checkouts (each writes its
fixtures under its own `target/tmp`), then

    python3 tools/commitdiff.py /path/to/parent/target/tmp target/tmp

It prints one line per table that differs (or exists on one side only)
with the first differing commit, `--show N` unified-diff lines of it,
and a summary. Exit status 1 when any table differs.
"""
import argparse
import difflib
import os
import re
import sys

COMMIT = re.compile(r"^commit_(\d+)$")
RULES = [
    (re.compile(r"^ts=\d+$", re.M), "ts=<ts>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    # a dir name starts a path segment: after a non-alphanumeric or an
    # URL-encoded slash (stats keys of a clone read `..%2Fsrc%2Fv0_…`)
    (re.compile(r"(?:(?<![A-Za-z0-9])|(?<=%2F))(ep\d+)_[0-9a-f]{8}-[0-9a-f]{8}"),
     r"\1_<id>"),
    (re.compile(r"(?:(?<![A-Za-z0-9])|(?<=%2F))(p?dv\d+|v\d+)_[0-9a-f]{8}"),
     r"\1_<id>"),
]


def checkout_of(root):
    d = os.path.abspath(root)
    while d != os.path.dirname(d):
        if os.path.exists(os.path.join(d, "build.sbt")):
            return d
        d = os.path.dirname(d)
    return None


def tables(root):
    """{table path relative to root: {version: commit file path}}"""
    out = {}
    for d, dirs, files in os.walk(root):
        if os.path.basename(d) != "manifest":
            continue
        commits = {int(m.group(1)): os.path.join(d, f)
                   for f in files for m in [COMMIT.match(f)] if m}
        if commits:
            out[os.path.relpath(os.path.dirname(d), root)] = commits
    return out


def normaliser(root):
    paths = sorted({p for p in (os.path.abspath(root), os.path.realpath(root),
                                checkout_of(root)) if p}, key=len, reverse=True)

    def norm(text):
        for p in paths:
            text = text.replace(p, "<root>")
        for rx, rep in RULES:
            text = rx.sub(rep, text)
        return text
    return norm


def read(path, norm):
    with open(path, encoding="utf-8", errors="replace") as f:
        return norm(f.read())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("root_a")
    ap.add_argument("root_b")
    ap.add_argument("--show", type=int, default=6,
                    help="diff lines to print per differing table")
    args = ap.parse_args()
    ta, tb = tables(args.root_a), tables(args.root_b)
    na, nb = normaliser(args.root_a), normaliser(args.root_b)
    differ, files = [], 0
    for t in sorted(set(ta) | set(tb)):
        if t not in ta or t not in tb:
            differ.append(t)
            print(f"{t}: only under {args.root_a if t in ta else args.root_b}")
            continue
        va, vb = ta[t], tb[t]
        if sorted(va) != sorted(vb):
            differ.append(t)
            print(f"{t}: versions {sorted(va)} vs {sorted(vb)}")
            continue
        for v in sorted(va):
            files += 1
            a, b = read(va[v], na), read(vb[v], nb)
            if a != b:
                differ.append(t)
                print(f"{t}: commit_{v} differs")
                diff = difflib.unified_diff(a.splitlines(), b.splitlines(),
                                            "a", "b", lineterm="", n=0)
                for line in list(diff)[2:2 + args.show]:
                    print("    " + line[:200])
                break
    both = len(set(ta) & set(tb))
    print(f"{len(set(ta) | set(tb))} tables ({both} on both sides, "
          f"{files} commit files compared): {len(differ)} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
