#!/usr/bin/env python3
"""List the public defs that nothing in src/main or perfbench names.

For every non-private, non-override member `def` under src/main/scala/graft
(files under graft/battery/ are searched but not listed), print it when its
name appears in no src/main or perfbench/src code other than its own
definitions, with the number of times src/test code names it. Comments and
string literals are ignored on both sides, so a Scaladoc link is not a
caller. Local defs inside a method body are not members and are skipped, and
so are `apply`, which a call names by its owner alone, and `main`, which the
JVM calls.

This is a name-based heuristic: an unreached def whose name another def
shares is missed, and a def reached only through reflection or a Spark SQL
function name is listed.

Usage: scripts/unreached_defs.py [repo root, default: the script's parent]
Output: one `path:line Owner.name tests=N` line per def, then a count.
"""
import os
import re
import sys
from collections import Counter

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
HIDDEN = re.compile(r"\b(?:private|protected|override)\b")


def strip(src):
    """`src` with comments and string/char literals blanked to spaces
    (newlines kept, so line numbers survive). The `$name` and `${...}`
    parts of an interpolated string stay: they are code."""
    out, i, n = [], 0, len(src)

    def blank(s):
        return re.sub(r"[^\n]", " ", s)

    def literal(body, interpolated):
        if not interpolated:
            return blank(body)
        kept, j = [], 0
        while j < len(body):
            if body.startswith("$$", j):
                kept.append("  ")
                j += 2
            elif body.startswith("${", j):
                depth, k = 1, j + 2
                while k < len(body) and depth:
                    depth += {"{": 1, "}": -1}.get(body[k], 0)
                    k += 1
                kept.append(" " + strip(body[j + 1:k]))
                j = k
            elif body[j] == "$":
                m = IDENT.match(body, j + 1)
                k = m.end() if m else j + 1
                kept.append(" " + body[j + 1:k])
                j = k
            else:
                kept.append(blank(body[j]))
                j += 1
        return "".join(kept)

    while i < n:
        interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(literal(src[i:j], interpolated))
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(literal(src[i:j + 1], interpolated))
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^'\\\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3)
            out.append(blank(src[i:j + 1]))
            i = j + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def member_defs(code):
    """(line, owner, name) for each def whose innermost brace is a template
    body (object/class/trait), not a method or block body."""
    found, stack, stmt_start = [], [], 0
    for m in re.finditer(r"[{};]|\bdef\b", code):
        tok = m.group(0)
        if tok == "def":
            if stack and stack[-1] is not None:
                # modifiers sit on the def's own line
                head = code[code.rfind("\n", 0, m.start()) + 1:m.start()]
                name = DEF.match(code, m.start())
                if name and not HIDDEN.search(head):
                    line = code.count("\n", 0, m.start()) + 1
                    found.append((line, stack[-1], name.group(1)))
            continue
        if tok == "{":
            head = code[stmt_start:m.start()]
            t = list(TEMPLATE.finditer(head))
            # a template body opens right after its header; a def's body,
            # a lambda or a block opens anywhere else
            is_template = bool(t) and "def " not in head[t[-1].start():] \
                and "=" not in head[t[-1].end():].split(")")[-1]
            stack.append(t[-1].group(1) if is_template else None)
        elif tok == "}" and stack:
            stack.pop()
        stmt_start = m.end()
    return found


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main_root = os.path.join(repo, "src", "main", "scala")
    test_root = os.path.join(repo, "src", "test", "scala")
    bench_root = os.path.join(repo, "perfbench", "src")
    battery = os.path.join(main_root, "graft", "battery") + os.sep

    main_names, def_sites, defs = Counter(), Counter(), []
    for path in [*scala_files(main_root), *scala_files(bench_root)]:
        with open(path, encoding="utf-8") as f:
            code = strip(f.read())
        main_names.update(IDENT.findall(code))
        # every def site of a name, member or local, is not a use of it
        def_sites.update(m.group(1) for m in DEF.finditer(code))
        if path.startswith(main_root + os.sep) and \
                not path.startswith(battery):
            defs += [(os.path.relpath(path, repo), line, owner, name)
                     for line, owner, name in member_defs(code)]
    test_names = Counter()
    for path in scala_files(test_root):
        with open(path, encoding="utf-8") as f:
            test_names.update(IDENT.findall(strip(f.read())))

    hits = [d for d in defs
            if d[3] not in ("apply", "main")
            and main_names[d[3]] <= def_sites[d[3]]]
    for rel, line, owner, name in sorted(hits):
        print(f"{rel}:{line} {owner}.{name} tests={test_names[name]}")
    print(f"{len(hits)} unreached defs")


if __name__ == "__main__":
    main()
