"""Straight-line local oracle for the flagship ER pipeline.

The distributed dataflow — the one per-page extract-and-resolve UDF and its
explode, the two string stars, connected components — must reproduce
this single-process computation exactly:

- per-(url, mention) components via ``LocalParser`` (the same pure functions
  the Arrow kernel runs — parity by construction for resolution, so any
  mismatch isolates a DISTRIBUTED-plumbing bug);
- clustering via a plain union-find over the same edge semantics: entity-key
  anchors (entity_std-salted when the ward isn't code-pinned) plus
  identical-(canon, dsig) string edges (operators.pairs / operators.cluster;
  the pipeline caps no group, so the partitions agree exactly).

Deterministic for a fixed (seed, n_pages); no dependence on partitioning.
``scripts/gen_er_expected.py`` freezes the output into
``tests/fixtures/er_expected_120.json`` — the committed, hash-checked
artifact behind the driver's otherwise ``no_oracle`` flagship row.
"""

from __future__ import annotations

import hashlib
import json


def role_dsig(fmt, district, ward, std: str) -> str:
    """Mirror ``operators.pairs.digit_sig_col`` (role-tagged)."""
    if district is not None or ward is not None:
        return "|".join([fmt or "?", "r", district or "", ward or ""])
    digits = " ".join(t for t in std.split() if t.isdigit())
    return "|".join([fmt or "?", "u", digits])


def canon_std(entity_std: str) -> str:
    return " ".join(sorted(set(entity_std.split())))


def local_er_expected(gaz, n_pages: int, seed: int = 42):
    """(rows, partition): per-mention parse dicts keyed by (url, mention),
    and the expected cluster partition as a set of frozensets of keys."""
    from address_parser_spark.plans.local_parser import LocalParser
    from address_parser_spark.sources.pages import synth_pages_local
    from address_parser_spark.textops.extract import extract_mentions
    from address_parser_spark.textops.normalize import normalize_advanced

    lp = LocalParser(gaz)
    pages, _ = synth_pages_local(gaz, n_pages, seed=seed)

    rows: dict = {}  # (url, mention) -> dict
    for url, _ts, _html, text, lang in pages:
        if lang != "vi":
            continue
        for mention in extract_mentions(text):
            std = normalize_advanced(mention)
            if len(std) < 2:
                continue
            key = (url, mention)
            if key in rows:
                continue
            out = lp.process(mention)
            if not (
                out["node_id"] is not None
                or out["province"] or out["district"] or out["ward"]
            ):
                continue
            p = out["province"]["name"] if out["province"] else None
            d = out["district"]["name"] if out["district"] else None
            w = out["ward"]["name"] if out["ward"] else None
            p_c = out["province"]["code"] if out["province"] else None
            d_c = out["district"]["code"] if out["district"] else None
            w_c = out["ward"]["code"] if out["ward"] else None
            entity_key = "|".join(
                [
                    p_c or "",
                    "" if out["is_new"] is True else (d_c or ""),
                    w_c or "",
                    {True: "true", False: "false"}.get(out["is_new"], "unknown"),
                ]
            )
            rows[key] = {
                "province": p,
                "district": d,
                "ward": w,
                "street_address": out["street_address"],
                "format": out["format"],
                "entity_key": entity_key,
                "entity_std": out["entity_std"],
                "ward_resolved": w is not None and w_c is not None,
                "std": std,
            }

    # Union-find clustering over anchor + string-identity edges.
    # DELIBERATELY duplicates (not imports) the path-halving union-find in
    # operators/cluster.py:_driver_union_find: this module is the test
    # ORACLE — sharing the clustering kernel with the engine would let a
    # bug in that kernel hide in both sides of the parity check.
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    by_string: dict = {}
    for key, r in rows.items():
        anchor = (
            ("ek", r["entity_key"])
            if r["ward_resolved"]
            else ("ek+std", r["entity_key"], r["entity_std"])
        )
        union(("m",) + key, anchor)
        sig = (canon_std(r["entity_std"]),
               role_dsig(r["format"], r["district"], r["ward"], r["std"]))
        by_string.setdefault(sig, []).append(key)
    for members in by_string.values():
        for other in members[1:]:
            union(("m",) + members[0], ("m",) + other)

    clusters: dict = {}
    for key in rows:
        clusters.setdefault(find(("m",) + key), set()).add(key)
    partition = {frozenset(v) for v in clusters.values()}
    return rows, partition


_ROW_FIELDS = ("province", "district", "ward", "street_address", "format", "entity_key")

def expected_to_driver_rows(rows: dict, partition) -> list[dict]:
    """Canonical per-mention records in the flagship query's exact column
    shape (sorted by (url, mention)) — the JSONL fixture the driver's DuckDB
    oracle reads back for a rows+schema+hash comparison.

    Cluster labels are implementation-defined, so each row carries
    ``cluster_rep`` instead: the smallest ``"url\nmention"`` member of its
    cluster. UTF-8 byte order equals code-point order, so Spark's ``min()``
    and Python's ``min()`` pick the same member."""
    rep_of: dict = {}
    for cluster in partition:
        rep = min(f"{url}\n{mention}" for url, mention in cluster)
        for key in cluster:
            rep_of[key] = rep
    return [
        {
            "url": url,
            "mention": mention,
            "std": rows[(url, mention)]["std"],
            **{f: rows[(url, mention)][f] for f in _ROW_FIELDS},
            "cluster_rep": rep_of[(url, mention)],
        }
        for url, mention in sorted(rows)
    ]


def expected_to_canonical(rows: dict, partition) -> dict:
    """Order-independent JSON form of the oracle output, with a sha256 over
    its canonical serialization — the committed-fixture contract."""
    canon_rows = [
        [url, mention] + [rows[(url, mention)][f] for f in _ROW_FIELDS]
        for url, mention in sorted(rows)
    ]
    canon_partition = sorted(
        sorted(list(map(list, cluster))) for cluster in partition
    )
    doc = {"rows": canon_rows, "partition": canon_partition}
    payload = json.dumps(doc, ensure_ascii=False, sort_keys=True,
                         separators=(",", ":")).encode("utf-8")
    doc["sha256"] = hashlib.sha256(payload).hexdigest()
    doc["n_rows"] = len(canon_rows)
    doc["n_clusters"] = len(canon_partition)
    return doc
