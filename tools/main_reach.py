#!/usr/bin/env python3
"""Report the size of src/main and the main defs that only specs reach.

Prints two things, run from any directory:

  1. the code lines of src/main/**/*.scala: every line that is not blank
     and does not start (after indentation) with //, /* or *; then the
     same count for each main file, largest first;
  2. every main `def` (not `override def`) whose name appears under
     src/test but in no other main file, no file under kgbench/ and no
     file under tools/. A def called only from inside its own file is
     listed too; "own-file uses" counts the occurrences of its name in
     that file beyond the definition, so 0 means nothing in main calls it.

The scan is textual (identifier matches, comments included), so treat
the list as candidates to inspect, not as proof.

Usage: python3 tools/main_reach.py
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"^\s*((?:[a-z]+(?:\[[^\]]*\])?\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)")


def files_under(rel, suffixes=None):
    base = os.path.join(ROOT, rel)
    for d, subdirs, names in os.walk(base):
        subdirs[:] = sorted(s for s in subdirs if not s.startswith("."))
        for n in sorted(names):
            if suffixes is None or n.endswith(suffixes):
                yield os.path.join(d, n)


def read(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read()


def is_code(line):
    t = line.strip()
    return bool(t) and not t.startswith(("//", "/*", "*"))


def idents(text):
    return set(IDENT.findall(text))


def main():
    main_files = list(files_under("src/main", (".scala",)))
    texts = {p: read(p) for p in main_files}
    per_file = {p: sum(is_code(l) for l in t.splitlines()) for p, t in texts.items()}
    print(f"src/main code lines (non-blank, non-comment): {sum(per_file.values())}")
    for p, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:6d} {os.path.relpath(p, ROOT)}")

    main_ids = {p: idents(t) for p, t in texts.items()}
    test_ids = set().union(*(idents(read(p)) for p in files_under("src/test")))
    outside = set()
    for rel in ("kgbench", "tools"):
        for p in files_under(rel):
            if os.path.abspath(p) != os.path.abspath(__file__):
                outside |= idents(read(p))

    found = []
    for p, t in texts.items():
        for lineno, line in enumerate(t.splitlines(), 1):
            m = DEF.match(line)
            if not m or "override" in m.group(1).split():
                continue
            name = m.group(2)
            if name not in test_ids or name in outside:
                continue
            if any(name in ids for q, ids in main_ids.items() if q != p):
                continue
            own = len(re.findall(r"\b%s\b" % re.escape(name), t)) - 1
            found.append((os.path.relpath(p, ROOT), lineno, name, own))

    print(f"main defs reached by src/test but by no other main file, "
          f"kgbench or tools: {len(found)}")
    for rel, lineno, name, own in found:
        print(f"  {rel}:{lineno} {name} (own-file uses: {own})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
