#!/usr/bin/env python3
"""Options census of the Scala sources: defaulted parameters nobody sets.

Usage: python3 tools/optcensus.py [REPO] [--all] [--same]

REPO defaults to this checkout. A candidate is a parameter with a default
value (`name: Type = default`) in a `def`, `class` or `case class`
parameter list under src/main/scala. By-name parameters (`=> T`) and
function-typed parameters (a top-level `=>` in the type) are not options
and are skipped. Strings and comments are masked before parsing; the code
inside `${...}` interpolations is kept.

A candidate is set when some call in src/main/scala, src/test/scala or
perfbench/src passes it:
  by position  `f(a, b)` reaches its index in the matching parameter list
               (the k-th argument list of a call fills the k-th list);
  by name      `f(..., name = v)`, or `.copy(name = v)` for a class field.
Calls are matched by simple name, so overloads and same-named functions in
other objects share their call sites (a conservative reading: a clash can
only make a parameter look set). A call inside the function's own body
(recursion) counts.

Prints per file the defaulted parameters and how many are never set, a
total line, then each never-set parameter as `file:line owner.param =
default`. --all also lists the set ones with one setting call site.
--same lists the parameters (defaulted or not) that only src/main calls
set, all to one literal or constant, and a defaulted one only to its
default: once an outer fold turns a forwarded value into a literal,
these are the next round's candidates.
"""
import os
import re
import sys
from collections import defaultdict

IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def mask(src):
    """Source with string contents and comments blanked (newlines kept);
    code inside `${...}` of interpolated strings stays."""
    out = list(src)
    n = len(src)

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def code(i, stop_brace):
        depth = 0
        while i < n:
            c = src[i]
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                blank(i, j)
                i = j
            elif src.startswith("/*", i):
                d, j = 1, i + 2
                while j < n and d:
                    if src.startswith("/*", j):
                        d, j = d + 1, j + 2
                    elif src.startswith("*/", j):
                        d, j = d - 1, j + 2
                    else:
                        j += 1
                blank(i, j)
                i = j
            elif c == '"':
                interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
                i = string(i, interp)
            elif c == "'" and re.match(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'", src[i:i + 8]):
                j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
                blank(i + 1, j - 1)
                i = j
            elif c == "{":
                depth += 1
                i += 1
            elif c == "}":
                if stop_brace and depth == 0:
                    return i + 1
                depth -= 1
                i += 1
            else:
                i += 1
        return i

    def string(i, interp):
        triple = src.startswith('"""', i)
        q = '"""' if triple else '"'
        j = i + len(q)
        start = j
        while j < n:
            if triple and src.startswith('"""', j) and not src.startswith('""""', j):
                blank(start, j)
                return j + 3
            if not triple and src[j] == '"':
                blank(start, j)
                return j + 1
            if not triple and src[j] == "\\":
                j += 2
                continue
            if interp and src[j] == "$":
                if src.startswith("${", j):
                    blank(start, j + 2)
                    j = code(j + 2, True)
                    start = j - 1  # keep the closing brace
                    continue
                m = re.match(IDENT, src[j + 1:])
                if m:
                    blank(start, j + 1)
                    j += 1 + m.end()
                    start = j
                    continue
                j += 2 if src.startswith("$$", j) else 1
                continue
            j += 1
        return n

    code(0, False)
    return "".join(out)


def close(text, i):
    """Index just past the bracket group opening at text[i]."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = [pairs[text[i]]]
    j = i + 1
    while j < len(text) and stack:
        c = text[j]
        if c in pairs:
            stack.append(pairs[c])
        elif c in ")]}":
            stack.pop()
        j += 1
    return j


def split_top(text):
    """Top-level comma-separated parts of `text` as (offset, part)."""
    parts, depth, start = [], 0, 0
    for k, c in enumerate(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append((start, text[start:k]))
            start = k + 1
    if text[start:].strip():
        parts.append((start, text[start:]))
    return parts


def top_assign(text):
    """Index of the top-level `=` (not `=>`, `==`, `<=`, `>=`, `!=`), or -1."""
    depth = 0
    for k, c in enumerate(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = text[k + 1] if k + 1 < len(text) else ""
            prv = text[k - 1] if k else ""
            if nxt not in "=>" and prv not in "=<>!":
                return k
    return -1


def top_arrow(text):
    depth = 0
    for k in range(len(text) - 1):
        c = text[k]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif depth == 0 and text.startswith("=>", k):
            return True
    return False


def arg_lists(text, j):
    """Consecutive `(...)` groups starting at text[j] (whitespace between),
    as (offset of the group's first inner character, inner text)."""
    lists = []
    while True:
        k = j
        while k < len(text) and text[k] in " \t\n":
            k += 1
        if k >= len(text) or text[k] != "(":
            return lists, j
        e = close(text, k)
        lists.append((k + 1, text[k + 1:e - 1]))
        j = e


DEF_RE = re.compile(r"\b(?:def|class)\s+(" + IDENT + r")")


def params(rel, src, masked):
    """[(file, line, owner, list index, position, name, default or None)]
    for every value parameter (not by-name, not function-typed)."""
    out = []
    for m in DEF_RE.finditer(masked):
        j = m.end()
        while j < len(masked) and masked[j] in " \t":
            j += 1
        if j < len(masked) and masked[j] == "[":
            j = close(masked, j)
        lists, _ = arg_lists(masked, j)
        for li, (base, body) in enumerate(lists):
            for pi, (off, p) in enumerate(split_top(body)):
                at = top_assign(p)
                head = p[:at] if at >= 0 else p
                if ":" not in head:
                    continue
                name = re.sub(r"\b(implicit|val|var|override|private|protected)\b", "",
                              head.split(":", 1)[0]).strip()
                if not re.fullmatch(IDENT, name) or top_arrow(head.split(":", 1)[1]):
                    continue
                line = masked.count("\n", 0, base + off + len(p) - len(p.lstrip())) + 1
                dflt = None
                if at >= 0:
                    dflt = " ".join(src[base + off + at + 1:base + off + len(p)].split())
                out.append((rel, line, m.group(1), li, pi, name, dflt))
    return out


def calls(masked, name):
    """Argument lists of every call `name(...)(...)` (definitions excluded)."""
    for m in re.finditer(r"(?<![A-Za-z0-9_$])" + name + r"\b", masked):
        before = masked[max(0, m.start() - 12):m.start()]
        if re.search(r"\b(def|class)\s+$", before):
            continue
        j = m.end()
        while j < len(masked) and masked[j] in " \t":
            j += 1
        if j < len(masked) and masked[j] == "[":
            j = close(masked, j)
        lists, _ = arg_lists(masked, j)
        if lists:
            yield m.start(), lists


NAMED = re.compile(r"^\s*(" + IDENT + r")\s*=(?![=>])")
LITERAL = re.compile(r'"[^"$\\]*"|-?\d+(\.\d+)?[LlDdFf]?|true|false|Nil|([A-Z]\w*\.)*[A-Z]\w*')


def scan(root):
    """[(param, [(tag, where, argument text)])] for every parameter of a
    def or class under src/main/scala, with the calls that pass it."""
    dirs = {"main": os.path.join(root, "src", "main", "scala"),
            "test": os.path.join(root, "src", "test", "scala"),
            "perfbench": os.path.join(root, "perfbench", "src")}
    texts = {}
    for tag, d in dirs.items():
        for dd, _, names in os.walk(d):
            for nm in sorted(names):
                if nm.endswith(".scala"):
                    p = os.path.join(dd, nm)
                    src = open(p, encoding="utf-8").read()
                    texts[os.path.relpath(p, root)] = (tag, src, mask(src))
    cands = []
    for rel, (tag, src, masked) in sorted(texts.items()):
        if tag == "main":
            cands += params(rel, src, masked)
    owners = {c[2] for c in cands}
    setters = defaultdict(list)  # (owner, list, pos) | (owner, name) -> [(tag, where, arg)]
    for rel, (tag, src, masked) in texts.items():
        for owner in owners | {"copy"}:
            for at, lists in calls(masked, owner):
                where = f"{rel}:{masked.count(chr(10), 0, at) + 1}"
                for li, (base, body) in enumerate(lists):
                    for pi, (off, a) in enumerate(split_top(body)):
                        text = " ".join(src[base + off:base + off + len(a)].split())
                        nm = NAMED.match(a)
                        if nm:
                            setters[(owner, nm.group(1))].append(
                                (tag, where, text.split("=", 1)[1].strip()))
                        else:
                            setters[(owner, li, pi)].append((tag, where, text))
    result = []
    for c in cands:
        rel, line, owner, li, pi, name, dflt = c
        who = setters.get((owner, li, pi), []) + setters.get((owner, name), [])
        if not who and dflt is not None:
            who = [w for w in setters.get(("copy", name), []) if owner[:1].isupper()]
        result.append((c, who))
    return result


def same_value(param, who):
    """The one literal every setting call passes, when folding is safe:
    no test or perfbench call sets it, and a defaulted parameter is only
    ever passed its default."""
    rel, line, owner, li, pi, name, dflt = param
    if not who or any(tag != "main" for tag, _, _ in who):
        return None
    vals = {w[2].split(".")[-1] if w[2][:1].isupper() else w[2] for w in who}
    if len(vals) != 1:
        return None
    v = vals.pop()
    if not LITERAL.fullmatch(v):
        return None
    if dflt is not None and (dflt.split(".")[-1] if dflt[:1].isupper() else dflt) != v:
        return None
    return v


def main(argv):
    show_all = "--all" in argv
    show_same = "--same" in argv
    args = [a for a in argv if a not in ("--all", "--same")]
    root = args[0] if args else os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    result = scan(root)
    per = defaultdict(lambda: [0, 0])
    for (rel, line, owner, li, pi, name, dflt), who in result:
        if dflt is not None:
            per[rel][0] += 1
            per[rel][1] += 0 if who else 1
    print(f"{'file':56s} {'defaulted':>9s} {'never_set':>9s}")
    for rel in sorted(per, key=lambda r: (-per[r][1], -per[r][0], r)):
        print(f"{rel:56s} {per[rel][0]:9d} {per[rel][1]:9d}")
    print(f"{'TOTAL':56s} {sum(v[0] for v in per.values()):9d} {sum(v[1] for v in per.values()):9d}")
    for (rel, line, owner, li, pi, name, dflt), who in result:
        if dflt is not None and not who:
            print(f"  {rel}:{line} {owner}.{name} = {dflt}")
        elif dflt is not None and show_all:
            print(f"  set {rel}:{line} {owner}.{name} = {dflt}  <- {who[0][1]} (+{len(who) - 1})")
    if show_same:
        for param, who in result:
            v = same_value(param, who)
            if v is not None:
                rel, line, owner, li, pi, name, dflt = param
                print(f"  same {rel}:{line} {owner}.{name} = {v}  ({len(who)} calls, "
                      f"{'defaulted' if dflt is not None else 'required'})")


if __name__ == "__main__":
    main(sys.argv[1:])
