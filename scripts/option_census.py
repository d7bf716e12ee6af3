#!/usr/bin/env python3
"""Census of the defaulted parameters of the engine's operators.

    python3 scripts/option_census.py [--quiet]

For every defaulted parameter of a `def` under
`src/main/scala/graft/operators/` and `src/main/scala/graft/functions/`,
prints the distinct values that call sites in `src/main`, `src/test` and
`graftbench/src` pass to it, named or positional, then the options that
no caller varies: every call passes nothing or the default.

A value that only forwards a parameter of the calling `def`
(`pqCodes(..., scale = scale)` inside `annIvfPq(..., scale: Int = 1000)`)
counts as that caller's default when the caller's option is itself never
varied, is not a kept bound, and has the same default, so the census is
a fixpoint over forwarding chains. In tests, a local `val x = <literal>`
passed as `x` counts as that literal; a registry constant counts as a
setting. Numeric literals compare by value (`1000L` == `1000`).

Also lists every defaulted parameter whose name never occurs in its
`def`'s body (comments masked, string interpolations read): an option a
caller can set that does nothing.

Also lists every `def` under `operators/`, `functions/` and `streaming/`
whose name occurs nowhere in `src/main`, `src/test` or `graftbench/src`
outside its own definition and Scaladoc links (`[[...]]`): code nothing
calls. Overrides and `apply`/`unapply` are called by name elsewhere
(Spark, the compiler) and are skipped.

Exits 1 when an option no caller varies is not on the keep list
(`KEEP`: capacity bounds, which are deployment settings), when an
option is never read, or when a def is unreferenced and not on
`KEEP_UNREFERENCED`, else 0.
`--quiet` prints only the summary. The Scala compiler is the final
census: it rejects any call that still passes a removed parameter.
"""
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEF_DIRS = ["src/main/scala/graft/operators", "src/main/scala/graft/functions"]
REF_DIRS = DEF_DIRS + ["src/main/scala/graft/streaming"]
CALL_DIRS = ["src/main", "src/test", "graftbench/src"]

# Capacity bounds: deployment settings a caller may need to raise, kept as
# parameters although no caller in the tree sets them.
KEEP = {
    ("Dedup", "jaccardComponentsIncremental", "maxBroadcastRows"),
    ("Dedup", "jaccardComponentsIncrementalBanded", "maxBandPostings"),
    ("Dedup", "dedupAgainstCorpusBucketed", "bloomExpectedItems"),
    ("BloomJoin", "semiJoinBloom", "fpp"),
    ("Layout", "compactManifestLake", "staleLockMs"),
    ("Dedup", "saveComponentsAssignVersioned", "numFiles"),
}

# Defs kept although nothing references them, with the work that needs them.
KEEP_UNREFERENCED = {
    # postings compaction for appended BM25 indexes (ROADMAP #6)
    ("TextOps", "compactLexicalIndex"),
}

OPEN = {"(": ")", "[": "]", "{": "}"}


def mask(src):
    """`src` with comment and string-literal contents blanked, same length,
    so offsets into it index the original text."""
    out = list(src)
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out[i:j] = " " * (j - i)
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out[i:j] = [ch if ch == "\n" else " " for ch in src[i:j]]
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out[i + 3:j - 3] = [ch if ch == "\n" else "x" for ch in src[i + 3:j - 3]]
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out[i + 1:j] = "x" * (j - i - 1)
            i = j + 1
        elif c == "'" and (src[i + 2:i + 3] == "'" or
                           (src[i + 1:i + 2] == "\\" and src[i + 3:i + 4] == "'")):
            j = src.find("'", i + 2 if src[i + 1] != "\\" else i + 3)
            out[i + 1:j] = "x" * (j - i - 1)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def close_of(m, i):
    """Index just past the bracket group opening at `m[i]`."""
    stack = [OPEN[m[i]]]
    j = i + 1
    while j < len(m) and stack:
        ch = m[j]
        if ch in OPEN:
            stack.append(OPEN[ch])
        elif ch in ")]}" and ch == stack[-1]:
            stack.pop()
        j += 1
    return j


def split_top(m, lo, hi):
    """(start, end) spans of the top-level comma-separated parts of m[lo:hi]."""
    parts, depth, start = [], 0, lo
    for j in range(lo, hi):
        ch = m[j]
        if ch in OPEN:
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append((start, j))
            start = j + 1
    if m[start:hi].strip():
        parts.append((start, hi))
    return parts


def top_eq(m, lo, hi):
    """Index of the first top-level `=` in m[lo:hi] that is an assignment
    (not `=>`, `==`, `<=`, `>=`, `!=`), or -1."""
    depth = 0
    for j in range(lo, hi):
        ch = m[j]
        if ch in OPEN:
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "=" and depth == 0:
            if m[j + 1:j + 2] in ("=", ">") or m[j - 1:j] in "=<>!:":
                continue
            return j
    return -1


def norm(v):
    v = " ".join(v.split())
    lit = v.replace("_", "")
    if re.fullmatch(r"-?[\d.]+(?:[eE][-+]?\d+)?[lLdDfF]?", lit):
        try:
            return repr(float(lit.rstrip("lLdDfF")))
        except ValueError:
            pass
    return v


def indent_at(src, i):
    ls = src.rfind("\n", 0, i) + 1
    k = ls
    while k < len(src) and src[k] == " ":
        k += 1
    return k - ls


class Def:
    def __init__(self, path, obj, name, pos, indent, lists, body):
        self.path, self.obj, self.name, self.pos, self.indent = path, obj, name, pos, indent
        self.lists = lists  # [[(param, default-or-None)]]
        self.body = body  # (start, end) of the body, None for an abstract def

    def params(self):
        return {p for lst in self.lists for p, _ in lst}


def body_of(m, j):
    """End of the `{...}` body of the template whose header ends at `j`,
    or None for a template without a body (`case class P(a: Int)`)."""
    while j < len(m):
        ch = m[j]
        if ch in "([":
            j = close_of(m, j)
        elif ch == "{":
            return close_of(m, j)
        elif ch == "\n":
            nxt = m[j + 1:].lstrip(" \t")
            if not nxt or re.match(r"(\n|case\b|object\b|class\b|trait\b|def\b|val\b|"
                                   r"private\b|final\b|sealed\b|@|}|/)", nxt):
                return None
            j += 1
        else:
            j += 1
    return None


def def_body(m, j, indent):
    """(start, end) of the body of the `def` indented `indent` whose
    parameter lists end at `j`: a `{...}` block, or an expression that
    runs to the next non-blank line indented no deeper than the def.
    None for an abstract def."""
    n = len(m)
    while j < n and not (m[j] == "=" and m[j + 1:j + 2] != ">"):
        if m[j] in "([":
            j = close_of(m, j)
            continue
        if m[j] == "\n":
            nxt = re.compile(r"[ \t]*\S").search(m, j + 1)
            if nxt is None or indent_at(m, nxt.start()) <= indent:
                return None
        j += 1
    if j >= n:
        return None
    k = j + 1
    while k < n and m[k] in " \t":
        k += 1
    if m[k:k + 1] == "{":
        return (k, close_of(m, k))
    for line in re.finditer(r"\n([ \t]*)(\S)", m[j:]):
        if len(line.group(1)) <= indent:
            return (j + 1, j + line.start())
    return (j + 1, n)


def reads(src, m, body, param):
    """Whether `param` occurs in the body: as code, or interpolated into
    a string literal (which `mask` blanks)."""
    lo, hi = body
    return bool(re.search(r"\b" + param + r"\b", m[lo:hi]) or
                re.search(r"\$(?:" + param + r"\b|\{[^}]*\b" + param + r"\b)", src[lo:hi]))


DEF_RE = re.compile(r"\bdef\s+(\w+)\s*")
OBJ_RE = re.compile(r"\b(?:object|class|trait)\s+(\w+)")


def parse_defs(path, src, m):
    objs = []
    for o in OBJ_RE.finditer(m):
        body = body_of(m, o.end())
        if body:
            objs.append((o.start(), body, o.group(1)))
    defs = []
    for d in DEF_RE.finditer(m):
        j = d.end()
        if m[j:j + 1] == "[":
            j = close_of(m, j)
        lists = []
        while True:
            k = j
            while k < len(m) and m[k] in " \t\n":
                k += 1
            if m[k:k + 1] != "(":
                break
            e = close_of(m, k)
            params = []
            for lo, hi in split_top(m, k + 1, e - 1):
                eq = top_eq(m, lo, hi)
                head = m[lo:eq if eq >= 0 else hi]
                pm = re.match(r"\s*(?:implicit\s+)?(?:(?:private|val|var)\s+)*(\w+)\s*:", head)
                if not pm:
                    continue
                default = norm(src[eq + 1:hi]) if eq >= 0 else None
                params.append((pm.group(1), default))
            lists.append(params)
            j = e
        obj = next((name for lo, hi, name in reversed(objs) if lo < d.start() < hi), "?")
        indent = indent_at(m, d.start())
        defs.append(Def(path, obj, d.group(1), d.start(), indent, lists, def_body(m, j, indent)))
    return defs


def scala_files(dirs):
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            if "/target" in base:
                continue
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(base, f)


def enclosing_param(defs_in_file, pos, line_indent, ident):
    """The def that lexically encloses `pos` and has parameter `ident`,
    found by walking back over defs at shrinking indentation."""
    bound = line_indent
    for d in sorted((d for d in defs_in_file if d.pos < pos), key=lambda d: -d.pos):
        if d.indent < bound:
            if ident in d.params():
                return d
            bound = d.indent
    return None


LITERAL = r"-?[\d_.]+(?:[eE][-+]?\d+)?[lLdDfF]?|true|false|\"[^\"\\n]*\""


def local_literal(m, src, pos, ident):
    """The literal of the nearest `val ident = <literal>` before `pos` in
    the same file, or None. Used for tests' local values only: a
    registry constant names a declared setting, which counts as set."""
    found = None
    for v in re.finditer(r"\bval\s+" + ident + r"\s*(?::\s*\w+\s*)?=\s*(" + LITERAL + r")\s*(?=;|\n)",
                         m[:pos]):
        found = src[v.start(1):v.end(1)]
    return found


def unreferenced(files, all_defs):
    """(object, name, file:line) of each def under `REF_DIRS` whose name
    occurs in no scanned file except at its own definition or inside a
    Scaladoc link."""
    uses = Counter()
    for src, _ in files.values():
        uses.update(re.findall(r"\w+", re.sub(r"\[\[[^\]]*\]\]", " ", src)))
    found = []
    for path, defs in all_defs.items():
        if not any(path.startswith(os.path.join(ROOT, r)) for r in REF_DIRS):
            continue
        m = files[path][1]
        for d in defs:
            if d.name in ("apply", "unapply") or re.search(
                    r"\boverride\s+(?:\w+\s+)*$", m[max(0, d.pos - 40):d.pos]):
                continue
            if uses[d.name] <= 1:  # the definition itself
                found.append((d.obj, d.name,
                              f"{os.path.relpath(path, ROOT)}:{m.count(chr(10), 0, d.pos) + 1}"))
    return found


def main(argv):
    quiet = "--quiet" in argv
    files = {}
    for path in sorted(scala_files(CALL_DIRS)):
        src = open(path, encoding="utf-8").read()
        files[path] = (src, mask(src))
    all_defs = {path: parse_defs(path, src, m) for path, (src, m) in files.items()}

    # Every defaulted def in src/main joins the fixpoint (a streaming or
    # registry def may forward its own option into an operator's); only
    # the operators' are reported.
    main_root = os.path.join(ROOT, "src/main")
    test_root = os.path.join(ROOT, "src/test")
    ops = [d for p in sorted(files) if p.startswith(main_root) for d in all_defs[p]
           if any(dflt is not None for lst in d.lists for _, dflt in lst)]
    reported = {id(d) for d in ops
                if any(d.path.startswith(os.path.join(ROOT, r)) for r in DEF_DIRS)}
    by_name = {}
    for d in ops:
        by_name.setdefault(d.name, []).append(d)
    op_objects = {d.obj for d in ops}

    # option key -> list of (value text, forwarded option key, "required" or None)
    options, default_of, label = {}, {}, {}
    for d in ops:
        for li, lst in enumerate(d.lists):
            for pi, (p, dflt) in enumerate(lst):
                if dflt is not None:
                    key = (id(d), li, pi)
                    options[key] = []
                    default_of[key] = dflt
                    label[key] = (d.obj, d.name, p, os.path.relpath(d.path, ROOT))

    call_re = re.compile(r"\b(" + "|".join(sorted(by_name, key=len, reverse=True)) + r")\s*(?=[(\[])")
    unmatched = []
    for path, (src, m) in files.items():
        for c in call_re.finditer(m):
            name = c.group(1)
            before = m[:c.start()].rstrip()
            if re.search(r"\bdef$", before):
                continue
            qual = None
            if before.endswith("."):
                qm = re.search(r"(\w+)\s*\.$", before)
                qual = qm.group(1) if qm else ""
            # unqualified calls resolve in the def's own file or where
            # its object's members are imported
            imported = (lambda d: re.search(
                r"\bimport\b[^\n]*\b" + d.obj + r"\s*\.\s*(?:_|\{[^}]*\b" + name
                + r"\b|" + name + r"\b)", m))
            cands = [d for d in by_name[name]
                     if qual == d.obj or (qual is None and (d.path == path or imported(d)))]
            if qual is not None and qual not in op_objects:
                cands = []
            if not cands:
                continue
            j = c.end()
            if m[j] == "[":
                j = close_of(m, j)
            groups = []
            while m[j:j + 1] == "(":
                e = close_of(m, j)
                groups.append((j + 1, e - 1))
                j = e
                while m[j:j + 1] in (" ", "\t"):
                    j += 1
            if not groups:
                continue
            line_indent = indent_at(m, c.start())
            matched = []
            for d in cands:
                if len(groups) > len(d.lists):
                    continue
                binding, ok = [], True
                for li, (lo, hi) in enumerate(groups):
                    lst = d.lists[li]
                    names = [p for p, _ in lst]
                    seen = set()
                    for ai, (alo, ahi) in enumerate(split_top(m, lo, hi)):
                        nm = re.match(r"\s*(\w+)\s*=(?![=>])", m[alo:ahi])
                        if nm and nm.group(1) in names:
                            pi = names.index(nm.group(1))
                            vlo = alo + nm.end()
                        else:
                            pi, vlo = ai, alo
                        if pi >= len(lst):
                            ok = False
                            break
                        seen.add(pi)
                        binding.append((li, pi, src[vlo:ahi].strip()))
                    if not ok:
                        break
                    if any(dflt is None and pi not in seen for pi, (_, dflt) in enumerate(lst)):
                        ok = False
                        break
                if ok:
                    matched.append((d, binding))
            if not matched:
                unmatched.append(f"{os.path.relpath(path, ROOT)}:{m.count(chr(10), 0, c.start()) + 1} {name}")
                continue
            for d, binding in matched:
                for li, pi, val in binding:
                    key = (id(d), li, pi)
                    if key not in options:
                        continue
                    fwd = None
                    if re.fullmatch(r"\w+", val) and not re.fullmatch(r"[\d_]+[lLdDfF]?", val):
                        enc = enclosing_param(all_defs[path], c.start(), line_indent, val)
                        if enc is not None:
                            for eli, elst in enumerate(enc.lists):
                                for epi, (ep, edf) in enumerate(elst):
                                    if ep == val and edf is not None and (id(enc), eli, epi) in options:
                                        fwd = (id(enc), eli, epi)
                            if fwd is None:
                                fwd = "required"
                        elif path.startswith(test_root):
                            lit = local_literal(m, src, c.start(), val)
                            if lit is not None:
                                val = f"{val} = {lit}"
                    options[key].append((val, fwd))

    varied = set()
    changed = True
    while changed:
        changed = False
        for key, vals in options.items():
            if key in varied:
                continue
            for val, fwd in vals:
                if fwd == "required":
                    v = True
                elif fwd is not None:
                    # a kept bound is a live setting: what it forwards varies
                    v = (fwd in varied or label[fwd][:3] in KEEP
                         or default_of[fwd] != default_of[key])
                else:
                    v = norm(val.split(" = ")[-1]) != default_of[key]
                if v:
                    varied.add(key)
                    changed = True
                    break

    never = [k for k in options if k not in varied and k[0] in reported]
    if not quiet:
        for key in (k for k in options if k[0] in reported):
            obj, fn, p, rel = label[key]
            vals = sorted({v + ("" if f is None
                                else " (from a required parameter)" if f == "required"
                                else f" (from {label[f][1]})") for v, f in options[key]})
            mark = "varied" if key in varied else "NEVER-VARIED"
            print(f"{obj}.{fn}.{p} = {default_of[key]}  [{mark}]  passed: {', '.join(vals) or '-'}")
        for u in unmatched:
            print(f"unmatched call: {u}", file=sys.stderr)
        print()
    by_id = {id(d): d for d in ops}
    unread = [k for k in options if k[0] in reported and by_id[k[0]].body is not None
              and not reads(*files[by_id[k[0]].path], by_id[k[0]].body, label[k][2])]
    bad = [k for k in never if label[k][:3] not in KEEP]
    print(f"{sum(k[0] in reported for k in options)} defaulted operator parameters; "
          f"{len(never)} never varied ({len(never) - len(bad)} kept bounds, "
          f"{len(bad)} not on the keep list)")
    for k in never:
        obj, fn, p, rel = label[k]
        tag = "keep" if (obj, fn, p) in KEEP else "REMOVE"
        print(f"  {tag:6s} {obj}.{fn}.{p} = {default_of[k]}  ({rel})")
    print(f"{len(unread)} defaulted operator parameters never read")
    for k in unread:
        obj, fn, p, rel = label[k]
        print(f"  UNREAD {obj}.{fn}.{p} = {default_of[k]}  ({rel})")
    unref = unreferenced(files, all_defs)
    dead = [u for u in unref if u[:2] not in KEEP_UNREFERENCED]
    print(f"{len(unref)} operator/function/streaming defs referenced nowhere "
          f"({len(unref) - len(dead)} kept, {len(dead)} not on the keep list)")
    for obj, name, where in unref:
        tag = "keep" if (obj, name) in KEEP_UNREFERENCED else "UNUSED"
        print(f"  {tag:6s} {obj}.{name}  ({where})")
    return 1 if bad or unread or dead else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
