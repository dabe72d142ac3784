"""Physical-plan linter: flags the scale anti-patterns a 100 TB run dies
on, from the same signals tests/test_plans.py asserts — but as a tool a
user can point at THEIR query before submitting it to a cluster.

Usage (library):
    from tools.plan_lint import lint
    warnings = lint(df)        # list of (code, message)

Usage (CLI, over the repo's own suite as a smoke):
    python tools/plan_lint.py [query_name ...]

Checks:
  NESTED_LOOP   BroadcastNestedLoopJoin / CartesianProduct — a
                non-equi join Catalyst can't hash; rewrite with an
                equi-key (bucketed_range_join, asof_join, zorder).
  PY_ROW_UDF    BatchEvalPython — row-at-a-time Python in the plan;
                use built-ins or Arrow (ArrowEvalPython/mapInPandas).
  SCAN_NO_PRUNE a parquet scan reading >2/3 of the table's columns
                under a narrow projection — check column pruning.
  NO_PUSHDOWN   in a single-scan plan whose PushedFilters is empty, a
                Filter on one of the FileScan's own output attributes
                (matched by name#exprId) — predicate didn't reach the
                reader.
  WIDE_SHUFFLE  Exchange carrying a text/binary column — document
                payloads moving through a shuffle; shuffle digests/ids
                instead.
  BCAST_GROWING an explicit broadcast HINT on a subtree whose row
                count GROWS with the corpus. Two detectors, both on
                the ANALYZED logical plan (where ResolvedHint nodes
                are still visible):
                (a) the subtree explodes document/event content and
                    re-aggregates by a token/n-gram-like key (Heaps'
                    law growth) without a LIMIT cap or one-row global
                    aggregate;
                (b) the subtree's output cardinality traces — through
                    the alias lineage — to a GROWING KEY column of a
                    scaling base table (partkey/orderkey/custkey/
                    suppkey/doc_id/user_id/event_id/vec_id), with no
                    LIMIT, no one-row global aggregate, no grouping by
                    bounded categoricals only, and no key-to-literal
                    lookup filter. This is the r15-verdict blind spot:
                    an un-LIMITed aggregate or projection keyed by a
                    scan column needs no explode to outgrow the
                    broadcast ceiling at 100 TB.
                Drop the hint (AQE broadcasts when actually small) or
                cap the table (top-K + OOV, the vocab_oov pattern).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_indent(line: str) -> int:
    """Depth of a logical-plan tree line: length of its ':  '/'+- '
    drawing prefix."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


# Key columns whose distinct count grows linearly with corpus scale:
# the TPC-H fact/dimension keys (part/orders/customer/supplier all
# scale with SF) plus the events/documents/embeddings row identities.
_GROWING_KEYS = {
    "l_partkey", "p_partkey", "ps_partkey", "l_orderkey", "o_orderkey",
    "l_suppkey", "s_suppkey", "ps_suppkey", "c_custkey", "o_custkey",
    "doc_id", "event_id", "user_id", "vec_id",
}


def _split_top(payload: str) -> list[str]:
    """Split a plan-node bracket payload on top-level commas (commas
    inside function-call parens stay put)."""
    parts, depth, cur = [], 0, []
    for ch in payload:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


_ATTR_RE = re.compile(r"([A-Za-z_][A-Za-z_0-9]*)#(\d+)")


def _alias_map(sub: list[str]) -> dict:
    """target attr (name, id) -> source attrs referenced by its
    defining expression, from every `expr AS name#id` in the subtree's
    Project/Aggregate/Window payloads."""
    amap: dict = {}
    for ln in sub:
        for m in re.finditer(r"\[([^\[\]]*)\]", ln):
            for piece in _split_top(m.group(1)):
                am = re.search(
                    r"^(.*) AS ([A-Za-z_][A-Za-z_0-9]*)#(\d+)[A-Za-z]*$",
                    piece.strip(),
                )
                if not am:
                    continue
                tgt = (am.group(2), am.group(3))
                srcs = {
                    (n, i) for n, i in _ATTR_RE.findall(am.group(1))
                    if (n, i) != tgt
                }
                amap.setdefault(tgt, set()).update(srcs)
    return amap


def _resolve(attr: tuple, amap: dict) -> set:
    """Terminal (un-aliased) attrs an attribute's lineage reaches."""
    seen: set = set()
    term: set = set()
    stack = [attr]
    while stack:
        a = stack.pop()
        if a in seen:
            continue
        seen.add(a)
        if amap.get(a):
            stack.extend(amap[a])
        else:
            term.add(a)
    return term


def _grows(attrs: list, amap: dict) -> bool:
    return any(
        n in _GROWING_KEYS
        for a in attrs
        for n, _ in _resolve(a, amap)
    )


def _broadcast_growing(analyzed: str) -> list[str]:
    """ResolvedHint(broadcast) subtrees that build a grow-with-corpus
    table — detector (a) explode+token-regroup, detector (b) growing-
    key lineage. Returns a sketch of each offending subtree head."""
    lines = analyzed.splitlines()
    hits: list[str] = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" not in ln or "broadcast" not in ln.lower():
            continue
        ind = _tree_indent(ln)
        sub: list[str] = []
        for nxt in lines[i + 1:]:
            if _tree_indent(nxt) <= ind and nxt.strip():
                break
            sub.append(nxt)
        text = "\n".join(sub)
        if re.search(r"(Global|Local)Limit", text):
            continue  # top-K capped — bounded by construction
        has_explode = bool(re.search(r"Generate (pos)?explode", text))
        amap = _alias_map(sub)
        # a Filter comparing a growing KEY column to literals (query-
        # point / query-set lookup: =, IN, <, <=) bounds the subtree to
        # a fixed key count independent of corpus scale
        key_lookup = False
        for fl in sub:
            st = fl.strip().lstrip(":+- ")
            if not st.startswith("Filter"):
                continue
            for cm in re.finditer(
                r"([A-Za-z_][A-Za-z_0-9]*)#(\d+)[A-Za-z]*"
                r" (?:=|IN|<|<=) ([^#\n]*?)(?:[,)]|$)",
                st,
            ):
                if "#" in cm.group(3):
                    continue  # attr-to-attr comparison, not a lookup
                if any(
                    n in _GROWING_KEYS
                    for n, _ in _resolve((cm.group(1), cm.group(2)), amap)
                ):
                    key_lookup = True
        if key_lookup:
            continue
        # the TOPMOST width-deciding node in the hinted subtree sets
        # the broadcast's cardinality
        flagged = False
        for s in sub:
            m = re.search(r"Aggregate \[([^\]]*)\](, \[)?", s)
            if m:
                if not m.group(2):
                    break  # global one-row aggregate — bounded
                grouping = m.group(1)
                if has_explode and re.search(
                    r"\b(token|tok|term|w|w1|w2|w3|gram|ngram|bigram"
                    r"|trigram|shingle|word|suffix|sfx)#\d",
                    grouping,
                ):
                    flagged = True  # detector (a)
                elif _grows(_ATTR_RE.findall(grouping), amap):
                    flagged = True  # detector (b): grouped by a key
                break
            dm = re.search(r"Deduplicate \[([^\]]*)\]", s)
            if dm:
                if _grows(_ATTR_RE.findall(dm.group(1)), amap):
                    flagged = True
                break
            pm = re.search(r"(?:Project|Relation) ?\[([^\]]*)\]", s)
            if pm and "] parquet" in text:
                # no aggregate at all: a projection/scan of a scaling
                # base table — detector (b)
                if _grows(_ATTR_RE.findall(pm.group(1)), amap):
                    flagged = True
                break
        if flagged:
            head = next((x.strip() for x in sub if x.strip()), "")
            hits.append(head[:100])
    return hits


# an attribute reference as plans print it: name#exprId (a type suffix
# such as the L of doc_id#0L is left off)
_EXPR_ID_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*#\d+")
# a Filter operator line of a physical-plan tree, whatever its condition
# starts with: "+- Filter (...)", ":  +- *(1) Filter CASE WHEN ..."
_FILTER_OP_RE = re.compile(r"[\s:+\-]*(?:\*\(\d+\)\s+)?Filter\s")


def lint(df) -> list[tuple[str, str]]:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    out: list[tuple[str, str]] = []
    for head in _broadcast_growing(qe.analyzed().toString()):
        out.append(
            ("BCAST_GROWING",
             "broadcast hint on a table that grows with the corpus "
             "(token/n-gram regroup or growing-key lineage) — drop the "
             f"hint or cap with top-K [{head}]")
        )
    if "CartesianProduct" in plan:
        out.append(("NESTED_LOOP", "CartesianProduct in plan — unkeyed join"))
    if "BroadcastNestedLoopJoin" in plan:
        out.append(
            ("NESTED_LOOP",
             "BroadcastNestedLoopJoin — non-equi predicate; fine only for "
             "tiny broadcast sides (KnowDB dims), fatal otherwise")
        )
    if "BatchEvalPython" in plan:
        out.append(
            ("PY_ROW_UDF", "row-at-a-time Python UDF — use built-ins or Arrow")
        )
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            m = re.search(r"ReadSchema: struct<([^>]*)>", line)
            if m:
                ncols = len([c for c in m.group(1).split(",") if c])
                if ncols >= 12:
                    out.append(
                        ("SCAN_NO_PRUNE",
                         f"scan reads {ncols} columns — verify pruning")
                    )
            if (
                "PushedFilters: []" in line
                and plan.count("FileScan parquet") == 1
                and m
            ):
                # only reliable for single-scan plans, and only when a
                # Filter references a SCAN output attribute (name#exprId)
                # — filters on derived columns (window ranks,
                # post-explode values, a projection aliased to a scan
                # column's name) legitimately cannot push
                out_m = re.search(r"FileScan parquet[^\[]*\[([^\]]*)\]", line)
                scan_attrs = set(_EXPR_ID_RE.findall(out_m.group(1))) if out_m else set()
                filter_attrs = set()
                for fl in plan.splitlines():
                    if _FILTER_OP_RE.match(fl):
                        filter_attrs |= set(_EXPR_ID_RE.findall(fl))
                if scan_attrs & filter_attrs:
                    out.append(
                        ("NO_PUSHDOWN",
                         "filter on scan columns but PushedFilters is empty")
                    )
        if "Exchange hashpartitioning" in line and re.search(
            r"\b(text|media|content)#\d+", line
        ):
            out.append(
                ("WIDE_SHUFFLE",
                 "shuffle carries a document/media payload column — "
                 "shuffle digests or ids instead")
            )
    # dedupe, stable order
    seen = set()
    uniq = []
    for w in out:
        if w not in seen:
            seen.add(w)
            uniq.append(w)
    return uniq


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("plan_lint")
        .getOrCreate()
    )
    qs = entrymod.queries()
    names = sys.argv[1:] or sorted(qs)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    worst = 0
    for name in names:
        try:
            warns = lint(qs[name](spark, sf))
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} ERROR {type(ex).__name__}")
            worst = 2
            continue
        if warns:
            for code, msg in warns:
                print(f"{name:28s} {code:14s} {msg}")
        else:
            print(f"{name:28s} clean")
    sys.exit(worst)


if __name__ == "__main__":
    main()
