"""Constant-partition window gate (no Spark).

bench.py's ``window_warnings`` count only sees Spark's "No Partition
Defined" warning, and the ``PARTITION BY (hash(k) % 1)`` idiom
deliberately suppresses that warning for windows over relations that are
KNOWN bounded (day series, deciles, LIMIT'd heads, dimension grids). That
means the warning's absence can no longer flag a future genuinely
unbounded window written with the same idiom (round-11 ADVICE item 6).

This gate closes the hole at the source level instead:

- every constant-partition site must carry a comment naming its bound
  within the preceding lines (``bound``/``bounded``/``dimension``/
  ``panel`` — the convention every existing site follows), and
- the per-file site counts are PINNED below: adding a new site anywhere
  fails this test until the site is reviewed, documented, and the
  allowlist updated — the review step the warning used to force.

The pyspark-API spelling is funneled through
``functions.bounded_rank_window`` (self-documenting); a direct
``pmod(F.hash`` anywhere else also fails.
"""

import glob
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "database_toolbox_spark",
)

SITE = re.compile(r"hash\([^)]*\)\s*%\s*1\)")
DOC = re.compile(r"bound|dimension|panel", re.IGNORECASE)
# reviewed constant-partition sites per file; update ONLY after checking
# the new window's input relation is bounded and documenting the bound
# in a comment at the site
ALLOWED = {
    "operators/curation.py": 1,
    "operators/dedup.py": 1,
    "operators/events.py": 11,
    "operators/finance.py": 2,
    "operators/graph.py": 1,
    "operators/market.py": 4,
    "operators/pipeline.py": 4,
    "operators/profile.py": 1,
    "operators/similarity.py": 5,
    "operators/sketches.py": 1,
    "operators/stats.py": 22,
    "operators/text.py": 4,
    "operators/windows.py": 2,
}


def _is_comment(line: str) -> bool:
    s = line.lstrip()
    return s.startswith("#") or s.startswith("--")


def _sites():
    for path in sorted(glob.glob(f"{PKG}/**/*.py", recursive=True)):
        rel = os.path.relpath(path, PKG)
        lines = open(path).read().splitlines()
        hits = [
            i
            for i, l in enumerate(lines)
            if SITE.search(l) and not _is_comment(l)
        ]
        if hits:
            yield rel, lines, hits


def test_constant_partition_sites_are_pinned():
    got = {rel: len(hits) for rel, _lines, hits in _sites()}
    assert got == ALLOWED, (
        "constant-partition window sites changed: "
        f"{ {k: (ALLOWED.get(k), got.get(k)) for k in set(got) | set(ALLOWED) if ALLOWED.get(k) != got.get(k)} } — "
        "review each new site's input relation for boundedness, document "
        "the bound in a comment at the site, then update ALLOWED"
    )


def test_constant_partition_sites_name_their_bound():
    undocumented = []
    for rel, lines, hits in _sites():
        for i in hits:
            ctx = "\n".join(lines[max(0, i - 12) : i + 1])
            if not DOC.search(ctx):
                undocumented.append(f"{rel}:{i + 1}")
    assert not undocumented, (
        "constant-partition windows without a bound-naming comment "
        f"within 12 lines: {undocumented}"
    )


# --- report_sort call-site gate (round-12 verdict item 7) -------------------
# report_sort = repartition(1) + local sort: safe ONLY for outputs bounded
# by construction (thresholded pair lists, per-cell summaries). A future
# caller with an unbounded relation gets the classic single-partition sort,
# so every call site is pinned and must name its bound in a nearby comment,
# exactly like the constant-partition window gate above.
RS_SITE = re.compile(r"\breport_sort\(")
RS_ALLOWED = {
    "operators/dedup.py": 3,       # jaccard_prefix / semdedup / containment
    "operators/fingerprints.py": 1,  # idf_cosine_dup_pairs
    "document_store.py": 1,        # get_documents: one row per request
}


def _rs_sites():
    for path in sorted(glob.glob(f"{PKG}/**/*.py", recursive=True)):
        rel = os.path.relpath(path, PKG)
        if rel == "session.py":  # the definition
            continue
        lines = open(path).read().splitlines()
        hits = [
            i
            for i, l in enumerate(lines)
            if RS_SITE.search(l)
            and not _is_comment(l)
            and "import" not in l
        ]
        if hits:
            yield rel, lines, hits


def test_report_sort_sites_are_pinned():
    got = {rel: len(hits) for rel, _lines, hits in _rs_sites()}
    assert got == RS_ALLOWED, (
        "report_sort call sites changed: "
        f"{ {k: (RS_ALLOWED.get(k), got.get(k)) for k in set(got) | set(RS_ALLOWED) if RS_ALLOWED.get(k) != got.get(k)} } — "
        "review the new site's output relation: report_sort single-"
        "partition sorts, so the output must be bounded by construction; "
        "document the bound in a comment at the site, then update "
        "RS_ALLOWED"
    )


def test_report_sort_sites_name_their_bound():
    undocumented = []
    for rel, lines, hits in _rs_sites():
        for i in hits:
            ctx = "\n".join(lines[max(0, i - 12) : i + 1])
            if not DOC.search(ctx):
                undocumented.append(f"{rel}:{i + 1}")
    assert not undocumented, (
        "report_sort sites without a bound-naming comment within 12 "
        f"lines: {undocumented}"
    )


def test_pyspark_constant_partition_goes_through_helper():
    offenders = []
    for path in sorted(glob.glob(f"{PKG}/**/*.py", recursive=True)):
        rel = os.path.relpath(path, PKG)
        if rel == os.path.join("functions", "__init__.py"):
            continue
        for i, l in enumerate(open(path), 1):
            if "pmod(F.hash" in l or "pmod(hash" in l:
                offenders.append(f"{rel}:{i}")
    assert not offenders, (
        "direct constant-partition Window spec outside "
        f"functions.bounded_rank_window: {offenders}"
    )
