#!/usr/bin/env python3
"""Orphan scan: names defined in src/main that nothing else references.

Strips comments from every .scala and .py file under src/main, src/test,
tools/ and perfbench/ (string literals are kept: a Python tool that runs
`graft.Verify` or an interpolated `s"$name"` is a real reference). Then,
for each `def`/`val`/`var`/`object`/`class`/`trait` defined in src/main,
it counts whole-word occurrences of the name. A name whose occurrences
are all definition sites has no reference. Two groups are printed:

  non-test  no reference in src/main + tools/ + perfbench/
  dead      no reference even with src/test added

The scan matches by name, not by symbol, so it under-reports: a name
that is also defined or used elsewhere (`n`, `run`) never shows up.
Entry points the JVM or a framework calls (`main`, `override`s, the
Java serialization hooks) are skipped.

With `--since REV` it scans the tree at REV too, and prints only the
names that became orphans since then: what a deletion left behind.

Usage: python3 tools/orphans.py [--since REV]
"""
import os
import re
import subprocess
import sys

ROOTS = ("src/main", "src/test", "tools", "perfbench")
DEF = re.compile(
    r"(?<![\w.])(override\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
    r"(?:final\s+|lazy\s+|implicit\s+|case\s+|sealed\s+|abstract\s+)*"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")
SKIP = {"main", "apply", "unapply", "toString", "equals", "hashCode",
        "readResolve", "writeReplace"}


def strip_scala(src):
    """Drops // and (nested) /* */ comments, keeps string and char literals."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j]); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append(src[i:j + 1]); i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(" "); i = j
        else:
            out.append(src[i]); i += 1
    return "".join(out)


def strip_py(src):
    """Drops # comments, keeps string literals (docstrings included)."""
    out, i, n = [], 0, len(src)
    while i < n:
        q = src[i:i + 3] if src[i:i + 3] in ('"""', "'''") else src[i]
        if q in ('"""', "'''"):
            j = src.find(q, i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j]); i = j
        elif q in "\"'":
            j = i + 1
            while j < n and src[j] not in q + "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif q == "#":
            j = src.find("\n", i)
            i = n if j < 0 else j
        else:
            out.append(src[i]); i += 1
    return "".join(out)


def sources(rev):
    """{path: text} for the scanned files, from the work tree or a revision."""
    if rev is None:
        paths = [os.path.join(d, f) for root in ROOTS
                 for d, _, fs in os.walk(root) for f in fs]
        read = lambda p: open(p, encoding="utf-8").read()
    else:
        paths = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", *ROOTS],
                               check=True, capture_output=True, text=True).stdout.split()
        read = lambda p: subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                        capture_output=True, text=True).stdout
    out = {}
    for p in paths:
        if p.endswith(".scala"):
            out[p] = strip_scala(read(p))
        elif p.endswith(".py"):
            out[p] = strip_py(read(p))
    return out


def orphans(files):
    """(non-test orphans, dead orphans): sorted (name, file) lists."""
    defined = {}  # name -> first src/main file that defines it
    for p, text in files.items():
        if p.startswith("src/main/"):
            for m in DEF.finditer(text):
                if not m.group(1) and m.group(3) not in SKIP:
                    defined.setdefault(m.group(3), p)

    def counts(paths):
        uses, defs = {}, {}
        for p in paths:
            for w in WORD.findall(files[p]):
                uses[w] = uses.get(w, 0) + 1
            for m in DEF.finditer(files[p]):
                defs[m.group(3)] = defs.get(m.group(3), 0) + 1
        return uses, defs

    def unref(paths):
        uses, defs = counts(paths)
        return sorted((nm, p) for nm, p in defined.items()
                      if uses.get(nm, 0) <= defs.get(nm, 0))

    non_test = [p for p in files if not p.startswith("src/test/")]
    return unref(non_test), unref(list(files))


def main():
    since = None
    if len(sys.argv) == 3 and sys.argv[1] == "--since":
        since = sys.argv[2]
    elif len(sys.argv) != 1:
        sys.exit(__doc__)
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    now = orphans(sources(None))
    if since:
        before = orphans(sources(since))
        now = tuple([o for o in cur if o[0] not in {b[0] for b in old}]
                    for cur, old in zip(now, before))
        print(f"# newly orphaned since {since}")
    for label, group in zip(("non-test", "dead"), now):
        print(f"{label}: {len(group)}")
        for nm, p in group:
            print(f"  {nm}\t{p}")


if __name__ == "__main__":
    main()
