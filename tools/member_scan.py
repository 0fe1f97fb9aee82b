#!/usr/bin/env python3
"""List members of top-level Scala objects that no product code calls.

Usage: python3 tools/member_scan.py [mainDir] [otherDir...]
       (defaults: src/main/scala perfbench/src)

For every `def`/`val`/`lazy val`/`var` declared directly in a top-level
`object X` under mainDir, count its uses on non-comment lines of the
product code (mainDir and the other dirs; never the tests):

  - outside X's file: `X.m` (a line break before the dot allowed),
    `alias.m` where the file binds
    `val alias = ...X`, and a bare `m` in a file that imports `X._`,
    `X.m` or `X.{..., m, ...}`;
  - inside X's file: a bare `m` or `X.m` on any line but the
    declaration.

A member with no use is printed as `X.m (file)`. Qualifying the name is
what lets this see a member with a common name (`read`, `split`,
`cosine`) that a bare-name count hides among unrelated lines. Skipped:
`override`, `implicit`, `apply`/`unapply`/`main`, an object's member
that a type it extends also declares (called through that type), and
members of classes and traits (called on instances, which text cannot
attribute).
Blind spots: a use inside a string (generated code) counts only when
it spells `X.m`; reflection is not seen.
"""
import os
import re
import sys

TYPE = re.compile(r"^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*"
                  r"(object|class|trait)\s+([A-Z]\w*)")
MEMBER = re.compile(r"^  (?:(?:private(?:\[\w+\])?|protected(?:\[\w+\])?|final|lazy|override|"
                    r"implicit)\s+)*(def|val|var)\s+([a-zA-Z]\w*)")
SKIP_NAMES = {"apply", "unapply", "main"}


def scala_files(dirs):
    for d in dirs:
        for root, _, names in os.walk(d):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(root, n)


def code_lines(path):
    """(line number, text) of the lines that are not comments."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for i, line in enumerate(f, 1):
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            if s.startswith("*") or s.startswith("//"):
                continue
            out.append((i, line.split(" // ")[0]))
    return out


def declared(lines):
    """({(object, member): declaration line} for members of top-level
    objects, {type: its members}, {object: the types it extends})."""
    found, by_type, parents, owner = {}, {}, {}, None
    for i, line in lines:
        t = TYPE.match(line)
        if t:
            owner = t.group(1, 2)
            if t.group(1) == "object":
                parents[t.group(2)] = re.findall(
                    r"\b(?:extends|with)\s+([A-Z]\w*)", line[t.end():])
            continue
        m = MEMBER.match(line)
        if owner and m:
            by_type.setdefault(owner[1], set()).add(m.group(2))
            if owner[0] == "object" and m.group(2) not in SKIP_NAMES and not re.search(
                    r"\b(override|implicit)\b", line[:m.start(2)]):
                found.setdefault((owner[1], m.group(2)), i)
    return found, by_type, parents


def main(argv):
    main_dir = argv[1] if len(argv) > 1 else "src/main/scala"
    others = argv[2:] if len(argv) > 2 else ["perfbench/src"]
    files = {p: code_lines(p) for p in scala_files([main_dir] + others)}
    members, by_type, parents = {}, {}, {}
    for p in scala_files([main_dir]):
        found, types, ext = declared(files[p])
        members.update({key: (p, line) for key, line in found.items()})
        by_type.update(types)
        parents.update(ext)
    hits = []
    for (obj, m), (home, decl) in sorted(members.items()):
        # an object's implementation of its parent's member is called
        # through the parent (`modules.flatMap(_.all)`)
        if any(m in by_type.get(t, ()) for t in parents.get(obj, ())):
            continue
        bare = re.compile(r"(?<![\w.])%s\b" % re.escape(m))
        used = False
        for p, lines in files.items():
            text = "\n".join(l for _, l in lines)
            if p == home:
                used = any(i != decl and (bare.search(l) or f"{obj}.{m}" in l)
                           for i, l in lines)
            else:
                aliases = re.findall(r"\bval\s+(\w+)\s*=\s*(?:[\w.]+\.)?%s\s*$" % obj,
                                     text, re.M)
                # a qualified call may break its line before the dot
                qualified = re.compile(r"\b(?:%s)\s*\.%s\b" % (
                    "|".join([obj] + aliases), re.escape(m)))
                imported = re.search(
                    r"import\s+[\w.]*\b%s\.(?:_|%s\b|\{[^}]*\b%s\b[^}]*\})" % (obj, m, m),
                    text)
                used = bool(qualified.search(text)) or bool(
                    imported and any(bare.search(l) for _, l in lines
                                     if not l.lstrip().startswith("import")))
            if used:
                break
        if not used:
            hits.append(f"{obj}.{m} ({os.path.relpath(home, main_dir)})")
    print("\n".join(hits))
    print(f"{len(hits)} members with no product use", file=sys.stderr)


if __name__ == "__main__":
    main(sys.argv)
