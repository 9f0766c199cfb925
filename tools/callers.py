#!/usr/bin/env python3
"""Count the references to each public def.

    python3 tools/callers.py <dir>...
    python3 tools/callers.py --orphans <dir>...

For each public, non-override `def` declared at member level of an object,
class or trait in the `.scala` files under the given directories (or
files), prints how often its name occurs in the code under `src/main`,
`graftbench/src` and `src/test` of the checkout holding the first path
(the nearest directory above it that has a `src/main`):

    main  bench  test  def                            at
    0     0      3     graft.pipelines.Versioned.foo  src/main/.../Versioned.scala:42

Comments and the text of string literals are ignored (the `$x` and `${...}`
parts of interpolated strings count as code), and the name's own `def`
declarations are not counted. The count is by name only, so overloads share
one count and an unrelated member with the same name adds to it: a count is
an upper bound. A zero in `main` and `bench` therefore means no caller
outside the tests, except for calls that never spell the name (`apply`
through `X(...)`, implicit conversions, reflection).

With `--orphans`, only the defs with a zero in both `main` and `bench`
are printed, each with its reason from `tools/callers_keep.tsv` of the
same checkout (one `<qualified def>\t<reason>` per line; `#` starts a
comment). The exit status is 1 when an orphan has no line there, so the
check fails until each new orphan is deleted, used, or given a reason.
"""
import collections
import os
import re
import signal
import sys

SCOPES = [("main", "src/main"), ("bench", "graftbench/src"), ("test", "src/test")]
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
NEXT = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)")  # the name after a keyword
TEMPLATE = {"object", "class", "trait"}
RESETS = {"def", "val", "var", "type", "import", "package"}


def scala_files(path):
    if os.path.isfile(path):
        return [path] if path.endswith(".scala") else []
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files)
                  if f.endswith(".scala")]
    return found


def interpolated(body):
    """The code parts of an interpolated string's body."""
    out, i = [], 0
    while i < len(body):
        if body.startswith("${", i):
            depth, j = 1, i + 2
            while j < len(body) and depth:
                depth += {"{": 1, "}": -1}.get(body[j], 0)
                j += 1
            out.append(body[i + 2:j - 1])
            i = j
        elif body[i] == "$" and i + 1 < len(body):
            m = IDENT.match(body, i + 1)
            if m:
                out.append(m.group())
            i = m.end() if m else i + 2
        else:
            i += 1
    return " " + " ".join(out) + " "


def strip(src):
    """`src` with comments and string-literal text blanked; newlines kept."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
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
            out.append("\n" * src.count("\n", i, j))
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            if src.startswith('"""', i):
                j = src.find('"""', i + 3)
                j = n if j < 0 else j
                while j < n and src.startswith('"', j + 3):
                    j += 1  # a closing run of more than three quotes
                body, i = src[i + 3:j], j + 3
            else:
                j = i + 1
                while j < n and src[j] not in '"\n':
                    j += 2 if src[j] == "\\" else 1
                body, i = src[i + 1:j], j + 1
            out.append(interpolated(body) if interp else " ")
            out.append("\n" * body.count("\n"))
        elif c == "'" and re.match(r"'(\\.[^']*|[^'\\])'", src[i:i + 8]):
            i = src.index("'", i + 2) + 1  # a char literal
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out)


def public_defs(path):
    """(owner.name, line) of each public member-level def in one file."""
    code = strip(open(path, encoding="utf-8").read())
    lines = code.split("\n")
    pkg = re.search(r"^\s*package\s+([\w.]+)", code, re.M)
    # stack entries: (template name, public) or None for a plain block
    stack, pending, found = [], None, []
    line_no = 1
    for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*|[{}\n]", code):
        tok = m.group()
        if tok == "\n":
            line_no += 1
            continue
        before = lines[line_no - 1][:m.start() - code.rfind("\n", 0, m.start()) - 1]
        hidden = re.search(r"\b(private|protected)\b", before) is not None
        if tok == "{":
            stack.append(pending)
            pending = None
        elif tok == "}":
            if stack:
                stack.pop()
            pending = None
        elif tok in TEMPLATE and not re.search(r"\bnew\s*$", before):
            nxt = NEXT.match(code, m.end())
            pending = (nxt.group(1) if nxt else "?", not hidden)
        elif tok in RESETS:
            pending = None
            nxt = NEXT.match(code, m.end())
            member = all(s is not None and s[1] for s in stack) and stack
            if (tok == "def" and nxt and member and not hidden
                    and not re.search(r"\boverride\b", before)):
                owner = ".".join(([pkg.group(1)] if pkg else []) +
                                 [s[0] for s in stack])
                found.append((f"{owner}.{nxt.group(1)}", nxt.group(1), line_no))
    return found


def checkout_of(path):
    d = os.path.abspath(path)
    while not os.path.isdir(os.path.join(d, "src", "main")):
        if os.path.dirname(d) == d:
            sys.exit(f"no checkout with a src/main above {path}")
        d = os.path.dirname(d)
    return d


def counts(root, scope_dir):
    """Identifier occurrences in code, and `def <name>` declarations."""
    idents, decls = collections.Counter(), collections.Counter()
    for f in scala_files(os.path.join(root, scope_dir)):
        code = strip(open(f, encoding="utf-8").read())
        idents.update(IDENT.findall(code))
        decls.update(re.findall(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)", code))
    return idents, decls


def keep_list(root):
    """qualified def -> reason, from the checkout's `tools/callers_keep.tsv`."""
    path = os.path.join(root, "tools", "callers_keep.tsv")
    if not os.path.exists(path):
        return {}
    keep = {}
    for raw in open(path, encoding="utf-8"):
        line = raw.rstrip("\n")
        if line.strip() and not line.lstrip().startswith("#"):
            qual, _, reason = line.partition("\t")
            keep[qual.strip()] = reason.strip()
    return keep


def main(argv):
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    orphans = argv[:1] == ["--orphans"]
    paths = argv[1:] if orphans else argv
    if not paths:
        sys.exit(__doc__.strip().split("\n\n")[1])
    root = checkout_of(paths[0])
    scopes = [counts(root, d) for _, d in SCOPES]
    keep = keep_list(root) if orphans else {}
    unlisted = []
    print("main\tbench\ttest\tdef\tat" + ("\treason" if orphans else ""))
    for path in paths:
        for f in scala_files(path):
            rel = os.path.relpath(os.path.abspath(f), root)
            for qual, name, line in public_defs(f):
                refs = [idents[name] - decls[name] for idents, decls in scopes]
                row = "\t".join(map(str, refs)) + f"\t{qual}\t{rel}:{line}"
                if not orphans:
                    print(row)
                elif refs[0] == 0 and refs[1] == 0:
                    if qual not in keep:
                        unlisted.append(qual)
                    print(row + "\t" + keep.get(qual, "NOT IN tools/callers_keep.tsv"))
    if unlisted:
        print(f"{len(unlisted)} def(s) with no caller outside the tests and "
              "no reason in tools/callers_keep.tsv: " + ", ".join(unlisted),
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main(sys.argv[1:])
