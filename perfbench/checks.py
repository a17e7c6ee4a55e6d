"""Output checks. Triple comparison runs in plain Python on collected rows,
independently of the library's own eval operators."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

TRIPLE_COLS = ("url", "subject_type", "subject", "predicate", "object_type", "object")


def triple_key(url, st, s, p, ot, o) -> str:
    return json.dumps([url, st, s, p, sorted((ot or {}).items()),
                       sorted((o or {}).items())], ensure_ascii=False)


def keys_of_rows(rows) -> set[str]:
    return {triple_key(r["url"], r["subject_type"], r["subject"], r["predicate"],
                       dict(r["object_type"] or {}), dict(r["object"] or {}))
            for r in rows}


def keys_of_gold(gold: list[dict]) -> set[str]:
    return {triple_key(g["url"], g["subject_type"], g["subject"], g["predicate"],
                       g["object_type"], g["object"]) for g in gold}


def prf(pred: set[str], gold: set[str]) -> dict:
    hit = len(pred & gold)
    return {"precision": hit / len(pred) if pred else 0.0,
            "recall": hit / len(gold) if gold else 0.0,
            "pred": len(pred), "gold": len(gold)}


def row_hash(df, cols):
    """xxhash64 of ``cols``; map columns enter as their sorted entries, so
    the hash does not depend on map entry order."""
    canon = [F.to_json(F.array_sort(F.map_entries(c)))
             if isinstance(df.schema[c].dataType, MapType) else F.col(c) for c in cols]
    return F.xxhash64(*canon)


def digest_exprs(df, cols) -> list:
    """Row count plus an order-independent multiset hash of ``cols``."""
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(row_hash(df, cols).cast("decimal(38,0)")).alias("hash")]


def digest(df, cols) -> tuple[int, str]:
    row = df.agg(*digest_exprs(df, cols)).collect()[0]
    return int(row["rows"]), str(row["hash"])


def alias_problems(aliases: dict[str, str], checked_edges, canonical_edges) -> list[str]:
    """What shows that a planted alias did not resolve to its base name.

    ``checked_edges`` are the (subject, predicate, object) edges linking
    saw, ``canonical_edges`` the committed ones. An entity of the checked
    edges is its own canonical name exactly when it still appears in the
    canonical edges. So every planted alias among them must be gone, its
    base must remain, and each of its edges must reappear with the base in
    its place (where the other end was merged too, an edge of the base with
    that predicate must be there). At least one planted alias must reach
    the checked edges."""
    canon = {tuple(e) for e in canonical_edges}
    kept = {x for s, _, o in canon for x in (s, o)}
    sub_pred = {(s, p) for s, p, _ in canon}
    pred_obj = {(p, o) for _, p, o in canon}
    seen, bad = set(), []
    for s, p, o in checked_edges:
        for end, other, as_subject in ((s, o, True), (o, s, False)):
            base = aliases.get(end)
            if base is None:
                continue
            seen.add(end)
            if other in kept:
                ok = ((base, p, other) if as_subject else (other, p, base)) in canon
            else:
                ok = ((base, p) in sub_pred) if as_subject else ((p, base) in pred_obj)
            if not ok:
                bad.append(f"edge {(s, p, o)} not rewritten to base {base}")
    for a in sorted(seen):
        if a in kept:
            bad.append(f"planted alias {a} left in canonical_edges")
        if aliases[a] not in kept:
            bad.append(f"base {aliases[a]} of alias {a} missing from canonical_edges")
    if not seen:
        bad.append("no planted alias reached the checked edges")
    return bad
