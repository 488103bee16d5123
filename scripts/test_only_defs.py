#!/usr/bin/env python3
"""List the public defs, objects and classes in src/main that no main code calls.

    python3 scripts/test_only_defs.py

A declaration counts as called when its name appears, as a whole
identifier, in a src/main or perfbench/src Scala file outside its own
definition. Comments do not count: `//` and `/* */` (scaladoc included)
are stripped first, so a `[[name]]` link is not a caller. String literals
are kept, so a name inside a string (an interpolated `${...}`, a class
name in a conf) does count. A member of an object called from another
file counts only when that file also names the object, so two objects'
same-named defs are told apart.

The scan repeats to a fixed point: once a declaration is listed, the names
inside its definition stop counting as callers, so the helpers only it
called are listed in the next round.

Not listed: private and protected members, overrides, implicits, local
defs (inside a def, or inside a member's expression), `apply`/`unapply`
and the like (called without their name), objects with a `main` method
(entry points), and the members of a template that extends a type not
declared here (they may implement a library type's abstract members, as
an `Aggregator`'s `zero` does, without `override`).

It matches names, not types, so it is a report, not a gate: a name that
some unrelated code also spells hides a dead declaration, and a call
through reflection or a string it cannot see is missed.
"""
import bisect
import os
import re
import sys

ROOTS = ["src/main", "perfbench/src"]

DECL = re.compile(r"\b(def|object|class|trait)\s+([A-Za-z_][\w$]*)")
IDENT = re.compile(r"[A-Za-z_$][\w$]*")
PARENT = re.compile(r"\b(?:extends|with)\s+([A-Za-z_][\w.]*)")
HIDDEN = ("private", "protected", "override", "implicit")
IMPLICITLY_CALLED = {"apply", "unapply", "unapplySeq", "update", "main",
                     "toString", "equals", "hashCode"}


def strip(text):
    """(code, skeleton): `text` with comments blanked, and the skeleton
    with string and char literal contents blanked too. Both keep every
    newline and offset of `text`."""
    code = list(text)
    skel = list(text)
    n, i = len(text), 0

    def blank(start, end, *bufs):
        for b in bufs:
            for k in range(start, end):
                if b[k] != "\n":
                    b[k] = " "

    while i < n:
        c = text[i]
        if text.startswith("//", i):
            end = text.find("\n", i)
            end = n if end < 0 else end
            blank(i, end, code, skel)
            i = end
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(i, j, code, skel)
            i = j
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """...x"""" ends on the last three
                end += 1
            blank(i + 3, end - 3, skel)
            i = end
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            blank(i + 1, j, skel)
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            end = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            end = n if end < 0 else end + 1
            blank(i + 1, end - 1, skel)
            i = end
        else:
            i += 1
    return "".join(code), "".join(skel)


class Decl:
    """One def/object/class/trait: its name, where it is, and the extent of
    its definition (offsets into the file, [start, end))."""

    def __init__(self, path, kind, name, name_at, start, end, rows, indent, hidden):
        self.path, self.kind, self.name, self.name_at = path, kind, name, name_at
        self.start, self.end, self.rows, self.indent = start, end, rows, indent
        self.hidden = hidden   # private, protected, override or implicit
        self.parents = []      # the types a template extends or mixes in
        self.owner = None      # innermost enclosing object/class/trait
        self.local = False     # inside a def, or inside a member's expression

    def qualified(self):
        names, d = [self.name], self.owner
        while d is not None:
            names.append(d.name)
            d = d.owner
        return ".".join(reversed(names))


def indent(line):
    return len(line) - len(line.lstrip(" "))


def declarations(path, skel):
    """Every def/object/class/trait in one file's skeleton, with its extent:
    from its line to the last line before code at its own indentation or
    less (a closing `}` or `)` at its indentation is its last line)."""
    lines = skel.split("\n")
    starts = [0]
    for ln in lines:
        starts.append(starts[-1] + len(ln) + 1)
    out = []
    for m in DECL.finditer(skel):
        row = bisect.bisect_right(starts, m.start()) - 1
        prefix = skel[starts[row]:m.start()]
        hidden = any(re.search(r"\b%s\b" % h, prefix) for h in HIDDEN)
        own = indent(lines[row])
        last = row
        for r in range(row + 1, len(lines)):
            text = lines[r]
            if not text.strip():
                continue
            if indent(text) > own:
                last = r
                continue
            if indent(text) == own and text.lstrip()[0] in "})":
                last = r
            break
        d = Decl(path, m.group(1), m.group(2), m.start(2), starts[row],
                 starts[last] + len(lines[last]), (row, last), own, hidden)
        if d.kind != "def":
            body = skel.find("{", m.end(), d.end)
            d.parents = [t.split(".")[-1] for t in PARENT.findall(
                skel[m.end():body if body >= 0 else d.end])]
        out.append(d)
    for d in out:
        enclosing = [e for e in out if e is not d and e.start <= d.start
                     and d.end <= e.end and (e.start, e.end) != (d.start, d.end)]
        templates = [e for e in enclosing if e.kind != "def"]
        d.owner = max(templates, key=lambda e: e.start) if templates else None
        # a member sits at its template's shallowest inner indentation; one
        # deeper (say, a def inside a val's expression) is local
        body = [indent(lines[r]) for r in range(d.owner.rows[0] + 1, d.owner.rows[1])
                if lines[r].strip()] if d.owner else [0]
        d.local = (any(e.kind == "def" for e in enclosing)
                   or d.indent != min(body, default=d.indent))
    return out


def load(root):
    files = {}
    for sub in ROOTS:
        for dirpath, _, names in os.walk(os.path.join(root, sub)):
            for name in sorted(names):
                if name.endswith(".scala"):
                    path = os.path.join(dirpath, name)
                    with open(path, encoding="utf-8", errors="replace") as f:
                        files[os.path.relpath(path, root)] = strip(f.read())
    return files


def scan(root):
    """Rounds of uncalled declarations: a list of lists of Decl."""
    decls, occurrences = [], {}
    for path, (code, skel) in sorted(load(root).items()):
        decls.extend(declarations(path, skel))
        for m in IDENT.finditer(code):
            occurrences.setdefault(m.group(0), []).append((path, m.start()))
    # a declaration's own name is not a call of another that shares it
    named = {(d.path, d.name_at) for d in decls}
    entry = {id(d.owner) for d in decls if d.kind == "def" and d.name == "main"}
    # a template extending a library type may implement that type's
    # abstract members without `override`: its members are not judged
    ours = {d.name for d in decls if d.kind in ("class", "trait")}
    external = {id(d) for d in decls if any(t not in ours for t in d.parents)}

    def judged(d):
        if d.hidden or d.local or d.name in IMPLICITLY_CALLED or id(d) in entry:
            return False
        return d.owner is None or not (d.owner.hidden or id(d.owner) in external)

    candidates = [d for d in decls if judged(d)]
    dead_extents = {}

    def counts(path, pos, own=None):
        if (path, pos) in named:
            return False
        if own is not None and own.path == path and own.start <= pos < own.end:
            return False
        return not any(s <= pos < e for s, e in dead_extents.get(path, ()))

    def called(d):
        owner = d.owner
        while owner is not None and owner.kind != "object":
            owner = owner.owner
        for path, pos in occurrences.get(d.name, ()):
            if not counts(path, pos, d):
                continue
            # from another file, an object's member is reached through the
            # object's name
            if path == d.path or owner is None or any(
                    p == path and counts(p, q)
                    for p, q in occurrences.get(owner.name, ())):
                return True
        return False

    rounds, dead = [], set()
    while True:
        found = [d for d in candidates if id(d) not in dead and not called(d)]
        if not found:
            return rounds
        rounds.append(found)
        for d in found:
            dead.add(id(d))
            dead_extents.setdefault(d.path, []).append((d.start, d.end))


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = scan(root)
    for i, found in enumerate(rounds):
        for d in found:
            print(f"{i + 1}  {d.path}:{d.rows[0] + 1}  {d.kind} {d.qualified()}")
    print(f"{sum(map(len, rounds))} declaration(s) with no caller in "
          f"{' or '.join(ROOTS)}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
