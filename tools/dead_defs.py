#!/usr/bin/env python3
"""List `src/main` defs that nothing outside the tests calls.

Usage: python3 tools/dead_defs.py [repoRoot]

A def is reported when its name appears nowhere in `src/main`,
`perfbench/src` or `tools` apart from its own definition(s). Comments are
stripped before matching; string literals are kept. For each reported def
the specs under `src/test` that mention its name are listed, so a reader can
tell a def with no caller anywhere from one that only tests call.

Defs on the allow-list below are reported apart, each with its reason. The
last line gives the count of reported defs that are not on the allow-list.
Exit status is 1 when that count is not 0 or an allow-list entry is STALE
(no longer reported), else 0.

The match is by name only. A dead def whose name is shared with a live one
(an overload, a def of the same name in another class, a local variable, a
named argument) is not reported, so an empty report does not prove that no
dead code remains.
"""
import os
import re
import sys

# name -> why it stays although no main code calls it
# (code whose only gate is a reference differential stays as it is: a
# refactor there has no live check)
ALLOW = {
    "encodeRefOrder": "the reference's data-array id order; only RefFloatObjectiveSpec checks it",
    "valueAndGrad": "the sequential single-precision objective; only RefFloatObjectiveSpec checks it",
    "cliqueTreeRef": "the reference's printed clique-tree marginals; only RefBridgeSpec checks it",
    "writeAll": "the reference's lattice dump; only RefLatticeSpec checks it",
    "entitySubclassify": "the reference's label-encoding round trip; only RefLabelEncodingSpec checks it",
    "readCorpus": "the reference's true-casing reader; only RefTrueCasingSpec checks it",
    "tagDoc": "the reference's true-casing output; only RefTrueCasingSpec checks it",
    # capabilities a SURVEY row lists as ported, each pinned by its spec
    "assembleConversations": "streaming stateful assembly, SURVEY.md:497",
    "streamingDedup": "streaming stateful exact dedup, SURVEY.md:497",
    "beamViterbi": "beam search, SURVEY.md:487",
    "tagGibbs": "Gibbs sampling with priors, SURVEY.md:487",
    "tagLongDoc": "maxDocSize split, SURVEY.md:472",
    "toLabeledDoc": "TrueCasing reader, SURVEY.md:461",
    "truecase": "TrueCasing case restoration, SURVEY.md:461",
    "tokenizeStripSgml": "SGML strip, SURVEY.md:501",
    "fromIO": "label encodings (IO to IOB/IOE/SBIEO), SURVEY.md:458",
    "spansOf": "label encodings (span invariance), SURVEY.md:458",
    "readLines": "LineIterator record splitting, SURVEY.md:95",
    "boundPort": "NERServer / NERServlet serving, SURVEY.md:103-104",
    "tagWithConfidence": "clique-tree marginal queries, SURVEY.md:175",
    "parse": "the gazette and distsim lexicon readers, SURVEY.md:479,502",
}

# names that the JVM, Spark, Breeze or Scala call without a source reference
IMPLICIT = {"main", "apply", "unapply", "toString", "equals", "hashCode", "readResolve",
            "writeReplace", "initialValue", "call", "run", "compare", "calculate"}

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
COMMENT = re.compile(r"//[^\n]*|/\*.*?\*/", re.S)
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def sources(root, sub, exts):
    base = os.path.join(root, sub)
    for d, _, files in os.walk(base):
        for f in sorted(files):
            if f.endswith(exts):
                yield os.path.join(d, f)


def strip_comments(text, path):
    return COMMENT.sub(" ", text) if path.endswith(".scala") else text


def words(text):
    counts = {}
    for w in WORD.findall(text):
        counts[w] = counts.get(w, 0) + 1
    return counts


def main(root):
    me = os.path.abspath(__file__)
    defs = {}  # name -> [(path, line)]
    uses = {}  # name -> occurrences in main code, tools and perfbench
    for path in sources(root, "src/main", (".scala",)):
        text = strip_comments(open(path, encoding="utf-8").read(), path)
        for m in DEF.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            prefix = text[text.rfind("\n", 0, m.start()) + 1:m.start()]
            if "override" in prefix:
                continue
            defs.setdefault(m.group(1), []).append((os.path.relpath(path, root), line))
    corpus = list(sources(root, "src/main", (".scala",))) + \
        list(sources(root, "perfbench/src", (".scala",))) + \
        [p for p in sources(root, "tools", (".py", ".sh", ".scala")) if os.path.abspath(p) != me]
    for path in corpus:
        for w, n in words(strip_comments(open(path, encoding="utf-8").read(), path)).items():
            uses[w] = uses.get(w, 0) + n
    specs = {}
    for path in sources(root, "src/test", (".scala",)):
        name = os.path.splitext(os.path.basename(path))[0]
        for w in words(strip_comments(open(path, encoding="utf-8").read(), path)):
            specs.setdefault(w, set()).add(name)

    dead = sorted(n for n, sites in defs.items()
                  if n not in IMPLICIT and uses.get(n, 0) <= len(sites))
    listed, allowed = [], []
    for n in dead:
        where = ", ".join(f"{p}:{l}" for p, l in defs[n])
        callers = ", ".join(sorted(specs.get(n, ()))) or "no caller anywhere"
        (allowed if n in ALLOW else listed).append((n, where, callers))
    for n, where, callers in listed:
        print(f"DEAD     {n}  ({where})  specs: {callers}")
    for n, where, callers in allowed:
        print(f"ALLOWED  {n}  ({where})  specs: {callers}  -- {ALLOW[n]}")
    stale = sorted(set(ALLOW) - set(dead))
    for n in stale:
        print(f"STALE    {n}  is on the allow-list but is no longer reported")
    print("note: names are matched, not symbols; a dead def that shares its name "
          "with a live one is not reported")
    print(f"{len(listed)} dead defs outside the allow-list ({len(allowed)} allowed, "
          f"{len(defs)} def names scanned)")
    return 1 if listed or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
