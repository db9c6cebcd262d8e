#!/usr/bin/env python3
"""Advisory dead-code walk over the main Scala code.

Lists every object, class and trait member under src/main/scala that no
entry point reaches by name, with its non-comment line count (counted
as tools/loc.sh counts). The walk is name-based: a member counts as
reached when its name appears in code that is itself reached, starting
from these roots:

  - every `main` method, with the object that holds it;
  - the objects `SparkEntry` and `functions` and the class
    `GraftExtensions`, whole;
  - the classes named in src/main/resources/META-INF/services;
  - every identifier in perfbench/src (the benchmark drives the
    pipelines by name).

Two members with one name are reached together, so the list can miss
dead code but never names code that an entry point calls by name.
Scaladoc and comments are skipped; string literals count only for the
identifiers interpolated into them. Locals (defs and vals inside a
method body) are part of their method, not members of their own.

    python3 tools/unreached.py [REPO_ROOT]

Always exits 0: the output is a candidate list to confirm by deleting
and compiling, not a gate.
"""
import os
import re
import sys

# Members kept on purpose although no entry point reaches them.
EXEMPT = {
    "countLogical": "test helper in main: GlobalWindowSpec counts logical rows with it",
    "tablePath": "test helper in main: the manifest specs build table paths with it",
    "tableExists": "test helper in main: the manifest specs probe tables with it",
    "registerAll": "test helper in main: specs register the sf tables with it",
    "allDdl": "test helper in main: DdlParitySpec pins the DDL text with it",
    "encodeWord": "BpeSpec checks the pack's encodeTokensByRounds against it",
    "encodeTokens": "BpeSpec checks the pack's encodeTokensByRounds against it",
}

# Names the compiler writes calls to: reached with their enclosing type.
IMPLICIT_CALLS = {"apply", "unapply", "unapplySeq", "update", "toString",
                  "equals", "hashCode", "finalize", "readResolve"}

ROOT_TEMPLATES = {"SparkEntry", "functions", "GraftExtensions"}

LOC_SKIP = re.compile(r"^\s*($|//|\*|/\*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MODIFIERS = (r"(?:(?:private|protected)(?:\[[\w.]+\])?\s+|final\s+|override\s+"
             r"|implicit\s+|lazy\s+|abstract\s+|sealed\s+|case\s+|inline\s+"
             r"|@[\w.]+(?:\([^)]*\))?\s+)*")
DEF = re.compile(r"^\s*(" + MODIFIERS + r")(def|val|var|class|object|trait|type)"
                 r"\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`|[^\s\w\[\](){}:=,`]+)")
TEMPLATE_KINDS = {"class", "object", "trait"}


def strip(text):
    """Blank out comments and string contents, keeping line breaks and the
    code inside `${...}` interpolations."""
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", text[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            triple = text.startswith('"""', i)
            q = '"""' if triple else '"'
            j = i + len(q)
            buf = [" " * len(q)]
            while j < n and not text.startswith(q, j):
                if not triple and text[j] == "\\":
                    buf.append("  ")
                    j += 2
                    continue
                if interp and text.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(text[k], 0)
                        k += 1
                    buf.append("  " + text[j + 2:k - 1] + " ")
                    j = k
                    continue
                if interp and text[j] == "$":
                    m = IDENT.match(text, j + 1)
                    if m:
                        buf.append(" " + m.group(0))
                        j = m.end()
                        continue
                buf.append("\n" if text[j] == "\n" else " ")
                j += 1
            if triple:
                while text.startswith('"', j):  # """...""""" closes late
                    j += 1
            else:
                j += 1
            buf.append(" " * (j - i - sum(len(b) for b in buf)))
            out.append("".join(buf))
            i = j
        elif c == "'" and re.match(r"'(\\.|\\u[0-9a-fA-F]{4}|[^\\'])'", text[i:i + 8]):
            m = re.match(r"'(\\.|\\u[0-9a-fA-F]{4}|[^\\'])'", text[i:i + 8])
            out.append(" " * len(m.group(0)))
            i += len(m.group(0))
        else:
            out.append(c)
            i += 1
    return "".join(out)


class Member:
    def __init__(self, line, kind, name, mods, parent):
        self.line, self.kind, self.name = line, kind, name
        self.mods, self.parent = mods, parent
        self.end = line  # last line, inclusive
        self.children = []
        self.own_ids = set()
        self.reached = False

    def qual(self):
        return f"{self.parent.qual()}.{self.name}" if self.parent else self.name


def parse(text):
    """Members of one file, as a forest of top-level definitions."""
    code = strip(text).split("\n")
    tops = []
    frames = []  # ("template", member) or ("block", None), innermost last
    stack = []  # members whose extent encloses the cursor, innermost last
    pending = None  # template header still waiting for its `{`
    paren = 0
    file_ids = set()
    for ln, line in enumerate(code, start=1):
        frame = frames[-1] if frames else ("template", None)
        m = DEF.match(line)
        if m and frame[0] == "template" and paren == 0:
            parent = frame[1]
            while stack and stack[-1] is not parent:
                stack.pop()
            mem = Member(ln, m.group(2), m.group(3).strip("`"), m.group(1),
                         parent)
            (parent.children if parent else tops).append(mem)
            stack.append(mem)
            pending = mem if mem.kind in TEMPLATE_KINDS else None
        for ch in line:
            if ch in "([":
                paren += 1
            elif ch in ")]":
                paren -= 1
            elif ch == "{":
                if pending is not None and paren == 0:
                    frames.append(("template", pending))
                    pending = None
                else:
                    frames.append(("block", None))
            elif ch == "}" and frames:
                kind, closed = frames.pop()
                if kind == "template":
                    while stack and stack[-1] is not closed:
                        stack.pop()
                    closed.end = ln
                    if stack:
                        stack.pop()
        if pending is not None and paren == 0:
            nxt = next((c.strip() for c in code[ln:] if c.strip()), "")
            if not (line.rstrip().endswith(("(", ",", "extends", "with"))
                    or nxt.startswith(("extends", "with", "{"))):
                pending = None
        for s in stack:
            s.end = ln
        if stack:
            stack[-1].own_ids.update(IDENT.findall(line))
        else:
            file_ids.update(IDENT.findall(line))
    # file-level imports are in scope in every top-level definition
    for t in tops:
        t.own_ids |= file_ids
    return tops, text.split("\n")


def follows_type(m):
    """Overrides, implicits and the calls the compiler writes are reached
    with their enclosing type, not by their (often shared) name."""
    return m.parent is not None and (
        "override" in m.mods or "implicit" in m.mods
        or m.name in IMPLICIT_CALLS)


def walk(members):
    for m in members:
        yield m
        yield from walk(m.children)


def count(raw, m):
    return sum(1 for l in raw[m.line - 1:m.end] if not LOC_SKIP.match(l))


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    main_dir = os.path.join(root, "src", "main", "scala")
    files = {}
    for d, _, fs in os.walk(main_dir):
        for f in sorted(fs):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    files[os.path.relpath(p, root)] = parse(fh.read())
    everything = [m for tops, _ in files.values() for m in walk(tops)]

    names = set()
    for d, _, fs in os.walk(os.path.join(root, "perfbench", "src")):
        for f in fs:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    names.update(IDENT.findall(strip(fh.read())))
    svc = os.path.join(root, "src", "main", "resources", "META-INF", "services")
    if os.path.isdir(svc):
        for f in os.listdir(svc):
            with open(os.path.join(svc, f), encoding="utf-8") as fh:
                names.update(l.strip().split(".")[-1] for l in fh if l.strip())

    work = []

    def reach(m):
        while m is not None and not m.reached:
            m.reached = True
            work.append(m)
            m = m.parent

    for m in everything:
        if m.name == "main" and m.kind == "def" or (
                m.kind in TEMPLATE_KINDS and m.name in ROOT_TEMPLATES):
            reach(m)
            if m.name in ROOT_TEMPLATES:
                for c in walk(m.children):
                    reach(c)
    while True:
        while work:
            names.update(work.pop().own_ids)
        # a nested member runs only inside its reached type
        for m in everything:
            if not m.reached and (m.parent is None or m.parent.reached) and (
                    follows_type(m) or m.name in names):
                reach(m)
        if not work:
            break

    rows, exempted = [], []
    for path in sorted(files):
        tops, raw = files[path]
        for m in walk(tops):
            if m.reached or (m.parent is not None and not m.parent.reached):
                continue
            if m.name in EXEMPT:
                exempted.append((path, m, EXEMPT[m.name]))
                continue
            rows.append((path, m, count(raw, m)))
    total = 0
    for path, m, n in rows:
        total += n
        print(f"{n:5d}  {path}:{m.line}  {m.kind} {m.qual()}")
    print(f"{total:5d}  non-comment lines in {len(rows)} unreached members")
    if exempted:
        print("exempt:")
        for path, m, why in exempted:
            print(f"       {path}:{m.line}  {m.qual()}  ({why})")


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # advisory: a parse failure must not fail a caller
        print(f"unreached.py: {e!r}", file=sys.stderr)
    sys.exit(0)
