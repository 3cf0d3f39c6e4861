#!/usr/bin/env python3
"""List the src/main files that no run reaches, then the unused defs of the
files that are reached.

Seeds are the files that define SparkEntry, Pipeline, Bench or Verify, plus
every file whose top-level object/class/trait the benchmark's sources
(perfbench/src) name. A file is reached when a reached file names one of its
top-level objects, classes or traits. Comments and string literals are
stripped first, so scaladoc mentions do not count; what a string
interpolates (${...}, $name) is kept.

Second section: every def of a reached file that is neither plain `private`
or `protected` (a qualified `private[pkg]` is visible to the specs, so it is
listed) nor an `override`, and whose name no production source mentions
outside the def's own lines. Production sources are src/main and
perfbench/src, stripped as above, and the files under tools, read as they
are. The match is by name only, so a mention of any same-named member counts;
only specs, test-scope mains or nothing call what is listed. Two kinds of
listed def are called from outside the sources all the same: a member that
implements a Java interface without `override` (a ThreadFactory's newThread)
and SparkEntry.entry, the entry point that programs outside this repository
call by name. A def's lines run from its `def` line to its closing line; the
figure printed is their count.

Third section: lines of src/main/scala that repeat a verbatim block
written elsewhere. Each line is stripped. A window is 6 consecutive
lines, each longer than 3 characters and not starting with `*`, `/**` or
`//`. A line counts when it lies in a window whose text also occurs
elsewhere and is not part of that window's first occurrence (first by
path, then by line). The lines inside a triple-quoted string and those
outside are counted separately.

Usage: python3 tools/reach.py   (from the root of a checkout)
"""
import bisect
import pathlib
import re
from collections import Counter, defaultdict

TOKEN = re.compile(r'//[^\n]*|/\*|\*/|"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"'
                   r"|'(?:\\.|[^'\\\n])'|[A-Za-z_]\w*|.|\n")
TOP = re.compile(r'^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*'
                 r'(?:object|class|trait)\s+(\w+)', re.M)
INTERP = re.compile(r"\$\{([^}]*)\}|\$([A-Za-z_]\w*)")
DEF = re.compile(r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|"
                 r"implicit\s+|@\w+\s+)*)def\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")
ENTRIES = {"SparkEntry", "Pipeline", "Bench", "Verify"}


def strip(text):
    """Drop comments and string literals; every newline stays, so line
    numbers match the file."""
    out, depth = [], 0
    for tok in TOKEN.findall(text):
        if tok == "/*":
            depth += 1
        elif tok == "*/" and depth:
            depth -= 1
        elif depth or tok.startswith("//"):
            if tok == "\n":
                out.append(tok)
        elif tok[0] in "\"'":  # keep what ${...} and $name interpolate
            out.append(" ".join(a or b for a, b in INTERP.findall(tok)) or '""')
            out.append("\n" * tok.count("\n"))
        else:
            out.append(tok)
    return "".join(out)


def defs(src):
    """(name, first line, last line) of each def that is not plain
    private/protected; lines are 0-based indexes into src's lines."""
    lines = src.split("\n")
    for i, line in enumerate(lines):
        m = DEF.match(line)
        if not m or re.search(r"\b(?:private|protected)\b(?!\[)|\boverride\b",
                              m.group(2)):
            continue
        indent, end = len(m.group(1)), i
        for j in range(i + 1, len(lines)):
            body = lines[j].strip()
            if not body:
                continue
            ind = len(lines[j]) - len(lines[j].lstrip())
            if ind < indent or (ind == indent and body[0] not in "})"):
                break
            end = j
            if ind == indent:
                break
        yield m.group(3), i, end


def scan(paths):
    return {p: strip(p.read_text(encoding="utf-8")) for p in paths}


main = scan(sorted(pathlib.Path("src/main").rglob("*.scala")))
bench = scan(sorted(pathlib.Path("perfbench/src").rglob("*.scala")))
names = {p: set(TOP.findall(src)) for p, src in main.items()}
words = {p: set(WORD.findall(src)) for p, src in {**main, **bench}.items()}
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

mentions = Counter()
for src in list(main.values()) + list(bench.values()):
    mentions.update(WORD.findall(src))
for p in sorted(pathlib.Path("tools").rglob("*")):
    if p.is_file():
        mentions.update(WORD.findall(p.read_text(encoding="utf-8", errors="replace")))
unused = []
for p in main:
    if p not in reached:
        continue
    lines = main[p].split("\n")
    for name, first, last in defs(main[p]):
        own = sum(len(re.findall(rf"\b{name}\b", l)) for l in lines[first:last + 1])
        if mentions[name] == own:
            unused.append((p, first + 1, name, last - first + 1))
print()
for p, line, name, n in unused:
    print(f"{n:6d}  {p}:{line}  {name}")
print(f"{sum(u[3] for u in unused):6d}  total ({len(unused)} defs)")

windows = defaultdict(list)
in_string = {}
for p in sorted(pathlib.Path("src/main/scala").rglob("*.scala")):
    text = p.read_text(encoding="utf-8")
    lines = text.split("\n")
    starts = [0]
    for line in lines:
        starts.append(starts[-1] + len(line) + 1)
    inside = [False] * len(lines)
    for m in re.finditer(r'"""(?:.|\n)*?"""', text):
        first = bisect.bisect_right(starts, m.start()) - 1
        last = bisect.bisect_right(starts, m.end() - 1) - 1
        for i in range(first, last + 1):
            inside[i] = True
    in_string[str(p)] = inside
    stripped = [line.strip() for line in lines]
    ok = [len(x) > 3 and not x.startswith(("*", "/**", "//")) for x in stripped]
    for i in range(len(lines) - 5):
        if all(ok[i:i + 6]):
            windows["\n".join(stripped[i:i + 6])].append((str(p), i))
repeated = set()
for occurrences in windows.values():
    for p, i in sorted(occurrences)[1:]:
        repeated.update((p, j) for j in range(i, i + 6))
inside = sum(in_string[p][j] for p, j in repeated)
print()
print(f'{inside:6d}  repeated lines inside """ strings')
print(f"{len(repeated) - inside:6d}  repeated lines outside them")
