#!/usr/bin/env python3
"""Main-code members that no other main-code file mentions.

    python3 tools/unreferenced_defs.py [src/main]

Lists each `def` or `val` declared as a member of an object, class or trait
under the given tree (default `src/main`) whose name no other `.scala` file
in that tree mentions, one `path:line: name` line each, in two groups:

  unused in main   the name appears nowhere but in its own declarations: the
                   member is reached only from tests or from outside the
                   library (distbench, a user), so it is a candidate for
                   deletion unless it is public API;
  own file only    the name is used, but only in its own file: a candidate
                   for a narrower visibility.

Comments are removed before both the declaration scan and the mention
search; string literals are kept, so a name inside an SQL string or a conf
value counts as mentioned. Left out, because "no other file" says nothing
about them: local definitions inside a method body or a parameter list,
plain `private` members (file-local by construction; `private[pkg]` ones
are listed), `override`s (reached by dispatch), and the names Scala or the
JVM call implicitly (`apply`, `unapply`, `main`, ...).
"""
import os
import re
import sys

IMPLICIT_NAMES = {"apply", "unapply", "unapplySeq", "main", "toString", "equals", "hashCode"}
DECL = re.compile(r"((?:(?:override|final|implicit|lazy|protected|private)(?:\[\w+\])?\s+)*)"
                  r"(def|val)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_comments(src):
    """`src` with // and /* */ comments blanked (newlines kept, so line
    numbers hold) and string literals left intact."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("'", i) and re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            out.append(src[i:j])
            i = j
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
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def code_only(src):
    """`src` (already comment-free) with string literal contents blanked,
    for brace and paren counting."""
    return re.sub(r'"""(?:.|\n)*?"""+|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\\\'])\'',
                  lambda m: re.sub(r"[^\n]", " ", m.group(0)), src)


def members(src):
    """(line, name) of each member `def`/`val` of a template body in `src`
    (comment-free), skipping plain-private and override ones."""
    code = code_only(src)
    found = []
    stack = []        # per open brace: does it open a template body?
    parens = 0
    pending = False   # an object/class/trait header awaits its `{`
    i, n = 0, len(code)
    while i < n:
        c = code[i]
        if c == "{":
            stack.append(pending)
            pending = False
        elif c == "}":
            if stack:
                stack.pop()
        elif c in "([":
            parens += 1
        elif c in ")]":
            parens -= 1
        elif c.isalpha() or c == "_":
            m = WORD.match(code, i)
            word = m.group(0)
            if word in ("object", "class", "trait") and (i == 0 or code[i - 1] != "."):
                pending = True
            elif parens == 0 and word in ("def", "val") and (not stack or stack[-1]):
                start = code.rfind("\n", 0, i) + 1
                d = DECL.search(code, start)
                if d and d.start(2) == i:
                    mods = d.group(1).split()
                    private = any(x in ("private", "protected") for x in mods)
                    if not private and "override" not in mods and d.group(3) not in IMPLICIT_NAMES:
                        found.append((code.count("\n", 0, i) + 1, d.group(3)))
                pending = False
            i = m.end()
            continue
        i += 1
    return found


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join("src", "main")
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".scala"))
    text = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            text[f] = strip_comments(fh.read())
    words = {f: set(WORD.findall(t)) for f, t in text.items()}
    unused, own = [], []
    for f in files:
        declared = members(text[f])
        for line, name in declared:
            if not any(name in words[g] for g in files if g != f):
                # every declaration of the name (overloads) is one mention
                uses = len(re.findall(r"\b%s\b" % name, text[f])) - sum(n == name for _, n in declared)
                (own if uses > 0 else unused).append(f"{f}:{line}: {name}")
    for title, hits in (("unused in main", unused), ("own file only", own)):
        print(f"# {title}: {len(hits)}")
        print("\n".join(hits))
    print(f"{len(unused) + len(own)} member(s) in {len(files)} files mentioned by no other file: "
          f"{len(unused)} unused in main, {len(own)} used in their own file only")


if __name__ == "__main__":
    main()
