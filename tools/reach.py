#!/usr/bin/env python3
"""List the src/main files that no run reaches.

Seeds are the files that define SparkEntry, Pipeline, Bench or Verify, plus
every file whose top-level object/class/trait the benchmark's sources
(perfbench/src) name. A file is reached when a reached file names one of its
top-level objects, classes or traits. Comments and string literals are
stripped first, so scaladoc mentions do not count; what a string
interpolates (${...}, $name) is kept.

Usage: python3 tools/reach.py   (from the root of a checkout)
"""
import pathlib
import re

TOKEN = re.compile(r'//[^\n]*|/\*|\*/|"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"'
                   r"|'(?:\\.|[^'\\\n])'|[A-Za-z_]\w*|.|\n")
TOP = re.compile(r'^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*'
                 r'(?:object|class|trait)\s+(\w+)', re.M)
INTERP = re.compile(r"\$\{([^}]*)\}|\$([A-Za-z_]\w*)")
ENTRIES = {"SparkEntry", "Pipeline", "Bench", "Verify"}


def strip(text):
    out, depth = [], 0
    for tok in TOKEN.findall(text):
        if tok == "/*":
            depth += 1
        elif tok == "*/" and depth:
            depth -= 1
        elif depth or tok.startswith("//"):
            continue
        elif tok[0] in "\"'":  # keep what ${...} and $name interpolate
            out.append(" ".join(a or b for a, b in INTERP.findall(tok)) or '""')
        else:
            out.append(tok)
    return "".join(out)


def scan(paths):
    return {p: strip(p.read_text(encoding="utf-8")) for p in paths}


main = scan(sorted(pathlib.Path("src/main").rglob("*.scala")))
bench = scan(sorted(pathlib.Path("perfbench/src").rglob("*.scala")))
names = {p: set(TOP.findall(src)) for p, src in main.items()}
words = {p: set(re.findall(r"[A-Za-z_]\w*", src)) for p, src in {**main, **bench}.items()}
bench_words = set().union(*(words[p] for p in bench))
todo = [p for p in main if names[p] & (ENTRIES | bench_words)]
reached = set(todo)
while todo:
    seen = words[todo.pop()]
    for p in main:
        if p not in reached and names[p] & seen:
            reached.add(p)
            todo.append(p)
unreached = [p for p in main if p not in reached]
total = 0
for p in unreached:
    n = p.read_text(encoding="utf-8").count("\n")
    total += n
    print(f"{n:6d}  {p}")
print(f"{total:6d}  total ({len(unreached)} files)")
