#!/usr/bin/env python3
"""List the defaulted parameters of every `def` in src/main, and whether any
call site sets them.

A parameter counts as SET when some call of a def with its name — in
src/main, src/test or perfbench/src — passes it a value, by name or by
position, whose text differs from its default. Calls are matched by name
only (overloads and same-named library methods all count), so the unset
list is a floor: a parameter on it has no caller that could need it.

    python3 tools/param_scan.py            # summary + every unset parameter
    python3 tools/param_scan.py --summary  # counts only
    python3 tools/param_scan.py --explicit # also the calls that pass an
                                           # unset parameter its default

Exit status is 0; the counts are the output.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEF_DIRS = ["src/main"]
CALL_DIRS = ["src/main", "src/test", "perfbench/src"]


def scala_files(dirs):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(base, n)


def mask(text):
    """Blank comments and string-literal contents (same length), so bracket
    matching ignores them while offsets still index the original text."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out[i:j] = " " * (j - i)
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out[i:j] = [c if c == "\n" else " " for c in text[i:j]]
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out[i + 3:j - 3] = [c if c == "\n" else "x" for c in text[i + 3:j - 3]]
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out[i + 1:j] = "x" * (j - i - 1)
            i = j + 1
        elif text[i] == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            out[i + 1:j] = "x" * (j - i - 1)
            i = j + 1
        else:
            i += 1
    return "".join(out)


OPEN, CLOSE = "([{", ")]}"


def close_of(m, i):
    """Index just past the bracket group that opens at m[i]."""
    depth = 0
    for j in range(i, len(m)):
        if m[j] in OPEN:
            depth += 1
        elif m[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(m)


def split_top(m, lo, hi):
    """Top-level comma-separated spans of m[lo:hi]."""
    spans, depth, start = [], 0, lo
    for j in range(lo, hi):
        c = m[j]
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "," and depth == 0:
            spans.append((start, j))
            start = j + 1
    if m[start:hi].strip():
        spans.append((start, hi))
    return spans


def top_eq(m, lo, hi):
    """Offset of the first top-level `=` that is an assignment, else -1."""
    depth = 0
    for j in range(lo, hi):
        c = m[j]
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "=" and depth == 0:
            prev = m[j - 1] if j > lo else " "
            nxt = m[j + 1] if j + 1 < hi else " "
            if nxt not in "=>" and prev not in "=<>!:":
                return j
    return -1


def groups_after(m, i):
    """Consecutive (...) groups starting at or after m[i] (whitespace
    between them allowed): list of (lo, hi) inner spans, and the end."""
    out = []
    while True:
        k = i
        while k < len(m) and m[k] in " \t\r\n":
            k += 1
        if k < len(m) and m[k] == "(":
            e = close_of(m, k)
            out.append((k + 1, e - 1))
            i = e
        else:
            return out, i


DEF_RE = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
NAME_RE = re.compile(r"^\s*(?:implicit\s+)?(?:val\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*:")


def collect_defs():
    defs = []
    for path in scala_files(DEF_DIRS):
        text = open(path, encoding="utf-8").read()
        m = mask(text)
        for dm in DEF_RE.finditer(m):
            i = dm.end()
            while i < len(m) and m[i] in " \t":
                i += 1
            if i < len(m) and m[i] == "[":
                i = close_of(m, i)
            groups, _ = groups_after(m, i)
            params = []
            for g, (lo, hi) in enumerate(groups):
                for pos, (a, b) in enumerate(split_top(m, lo, hi)):
                    nm = NAME_RE.match(m[a:b])
                    if not nm:
                        continue
                    eq = top_eq(m, a, b)
                    default = " ".join(text[eq + 1:b].split()) if eq >= 0 else None
                    params.append({"group": g, "pos": pos, "name": nm.group(1),
                                   "default": default})
            if any(p["default"] is not None for p in params):
                line = text.count("\n", 0, dm.start()) + 1
                defs.append({"name": dm.group(1), "file": os.path.relpath(path, ROOT),
                             "line": line, "params": params})
    return defs


def collect_calls(names):
    """name -> list of calls; a call is a list of arg groups, each a list of
    (named_param_or_None, arg_text)."""
    calls = {n: [] for n in names}
    pat = re.compile(r"(?<![A-Za-z0-9_])(" + "|".join(sorted(map(re.escape, names))) +
                     r")(?![A-Za-z0-9_])")
    for path in scala_files(CALL_DIRS):
        text = open(path, encoding="utf-8").read()
        m = mask(text)
        for cm in pat.finditer(m):
            if re.search(r"\bdef\s+$", m[max(0, cm.start() - 20):cm.start()]):
                continue
            i = cm.end()
            while i < len(m) and m[i] in " \t":
                i += 1
            if i < len(m) and m[i] == "[":
                i = close_of(m, i)
            if i >= len(m) or m[i] != "(":
                continue
            groups, _ = groups_after(m, i)
            call = []
            for lo, hi in groups:
                args = []
                for a, b in split_top(m, lo, hi):
                    named = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])", m[a:b])
                    if named:
                        args.append((named.group(1),
                                     " ".join(text[a + named.end():b].split())))
                    else:
                        args.append((None, " ".join(text[a:b].split())))
                call.append(args)
            where = f"{os.path.relpath(path, ROOT)}:{text.count(chr(10), 0, cm.start()) + 1}"
            calls[cm.group(1)].append((where, call))
    return calls


def main():
    defs = collect_defs()
    calls = collect_calls({d["name"] for d in defs})
    total, unset, passed = 0, [], []
    for d in defs:
        by_name = {p["name"]: p for p in d["params"]}
        set_names, explicit = set(), []
        for where, call in calls[d["name"]]:
            for g, args in enumerate(call):
                for pos, (named, value) in enumerate(args):
                    if named is not None and named in by_name:
                        p = by_name[named]
                    else:
                        ps = [p for p in d["params"] if p["group"] == g and p["pos"] == pos]
                        if named is not None or not ps:
                            continue
                        p = ps[0]
                    if p["default"] is not None and value != p["default"]:
                        set_names.add(p["name"])
                    elif p["default"] is not None:
                        explicit.append((where, p["name"], named is None))
        for p in d["params"]:
            if p["default"] is None:
                continue
            total += 1
            if p["name"] not in set_names:
                unset.append((d["file"], d["line"], d["name"], p["name"], p["default"]))
                passed += [(w, d["name"], n, pos) for w, n, pos in explicit
                           if n == p["name"]]
    print(f"defaulted parameters: {total}; never set by a call site: {len(unset)}")
    if "--summary" not in sys.argv:
        for f, line, fn, p, default in unset:
            print(f"{f}:{line} {fn}({p} = {default})")
    if "--explicit" in sys.argv:
        print(f"calls passing an unset parameter its default: {len(passed)}")
        for where, fn, p, positional in passed:
            print(f"{where} {fn}({p}){' positional' if positional else ''}")


if __name__ == "__main__":
    main()
