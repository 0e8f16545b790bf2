#!/usr/bin/env python
"""Generate /tmp/sf1 as a deterministic 10x replication of sf0.1 for
the full-scale parity sweep (SURVEY.md §8, round 5/6).

Construction (no randomness — rebuilding yields byte-identical data):
- region/nation are copied VERBATIM (bounded dims; TPC-H holds them
  fixed across scale factors).
- every other table is replicated COPIES times with each key column
  shifted by copy_index * (max_key_in_sf0.1 + 1), consistently across
  fact/dim so referential integrity survives (l_orderkey shifts by the
  orders offset, o_custkey by the customer offset, ...). Copy 0 is the
  sf0.1 data verbatim, so every sf0.1 row exists unchanged at sf1.
- documents: copies i>0 append a per-copy suffix token (" copytok<i>")
  and recompute n_chars, so copies are NEAR-duplicates of copy 0 —
  LSH/Jaccard/SimHash clusters become ~10x wider (a real star-chain /
  hot-bucket stress) while exact-dedup cardinality scales linearly.
- embeddings: copies i>0 add i * 1e-3 to component 0 (float32 math),
  so cosine similarities stay distinct and top-k ties stay broken.
- schemas are cast back to the sf0.1 parquet schema before writing
  (int32 FKs, timestamp[us], list<float>) so the driver's readers see
  byte-identical column types.

When documents are generated, a bounded sub-corpus `<dst_dir>_pfj` is
written beside the output: every copy of the first PFJ_BASES base
documents, so near-duplicate clusters keep their full width while the
corpus stays small enough for the quadratic prefix-filter Jaccard
oracle. Its other tables are symlinks into dst_dir, so
`check_parity.py <dst_dir>_pfj --only dedup_prefix_filter_jaccard,advanced_misc_suite`
runs the registered queries and oracles unchanged on it.

Usage: python scripts/gen_sf1.py [src_dir] [dst_dir]
       (defaults /root/testdata/sf0.1 -> /tmp/sf1)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COPIES = 10
VERBATIM = ("region", "nation")
PFJ_BASES = 500  # base documents kept per copy in the <dst>_pfj sub-corpus

# key column -> (owning table, column holding the key domain's max)
KEY_DOMAINS = {
    "c_custkey": ("customer", "c_custkey"),
    "s_suppkey": ("supplier", "s_suppkey"),
    "p_partkey": ("part", "p_partkey"),
    "o_orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}

# table -> {column: key domain} (FKs shift by their PARENT's offset)
REMAP = {
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}


def _copy(table: pa.Table, name: str, i: int, offsets: dict[str, int]) -> pa.Table:
    if i == 0:
        return table
    out = table
    for col, domain in REMAP[name].items():
        idx = out.schema.get_field_index(col)
        shifted = pc.add(out.column(col), i * offsets[domain])
        out = out.set_column(idx, col, shifted.cast(table.schema.field(col).type))
    if name == "documents":
        ti = out.schema.get_field_index("text")
        text = pc.binary_join_element_wise(
            out.column("text").cast(pa.string()), pa.scalar(f" copytok{i}"), ""
        )
        out = out.set_column(ti, "text", text)
        ni = out.schema.get_field_index("n_chars")
        out = out.set_column(ni, "n_chars", pc.utf8_length(text).cast(pa.int64()))
    if name == "embeddings":
        emb = out.column("embedding").combine_chunks()
        if isinstance(emb, pa.ChunkedArray):
            emb = emb.chunk(0)
        values = emb.values.to_numpy(zero_copy_only=False).copy().astype(np.float32)
        off = emb.offsets.to_numpy(zero_copy_only=False)
        # The start-offset indexing below writes to component 0 of each
        # row; a NULL or EMPTY list row would make it silently perturb
        # the NEXT row's vector (or drop the null mask on rebuild), so
        # refuse such inputs loudly rather than corrupt the copy.
        if emb.null_count or (off[:-1] == off[1:]).any():
            raise ValueError(
                "embeddings contain null or empty lists; the perturbation "
                "step assumes every row has >=1 component"
            )
        starts = off[:-1]
        values[starts] = values[starts] + np.float32(i * 1e-3)
        rebuilt = pa.ListArray.from_arrays(
            emb.offsets, pa.array(values, type=pa.float32())
        ).cast(table.schema.field("embedding").type)
        ei = out.schema.get_field_index("embedding")
        out = out.set_column(ei, "embedding", rebuilt)
    return out


# (child table, FK column) -> (parent table, PK column): every key the
# replication shifts; checked after generation so a REMAP mistake fails
# the build instead of silently producing orphan keys the join-family
# sweeps would then "verify" against.
FK_CHECKS = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _assert_referential_integrity(dst: str, only: set[str] | None = None) -> None:
    """Anti-join every shifted FK against its parent's key set; any
    orphan is a generator bug (a REMAP/KEY_DOMAINS drift), so fail
    loudly. Set arithmetic over the distinct key columns — no full-row
    materialization, runs in seconds at sf1.

    With a --tables subset, checks every FK edge whose child AND
    parent were both generated (instead of skipping wholesale — a
    subset corpus could otherwise silently carry dangling FKs into
    queries that join within it) and WARNS loudly about edges that
    cross out of the subset: those joins are unverifiable here, so the
    corpus must only feed queries over the generated tables."""
    checks = FK_CHECKS
    if only is not None:
        checks = [e for e in FK_CHECKS if e[0] in only and e[2] in only]
        crossing = [e for e in FK_CHECKS if (e[0] in only) != (e[2] in only)]
        for child, fk, parent, _ in crossing:
            print(
                f"WARNING: FK {child}.{fk} -> {parent} crosses out of the "
                f"generated subset — unverifiable; do not run queries that "
                f"join beyond {sorted(only)} on this corpus"
            )
    for child, fk, parent, pk in checks:
        fks = set(
            pq.read_table(f"{dst}/{child}.parquet", columns=[fk]).column(fk).to_pylist()
        )
        pks = set(
            pq.read_table(f"{dst}/{parent}.parquet", columns=[pk]).column(pk).to_pylist()
        )
        orphans = fks - pks
        assert not orphans, (
            f"{child}.{fk} has {len(orphans)} orphan keys vs {parent}.{pk} "
            f"(sample: {sorted(orphans)[:5]})"
        )
    print(f"referential integrity: {len(checks)} FK edges clean")


def _write_pfj_subcorpus(dst: str, period: int) -> None:
    """`<dst>_pfj`: the documents whose base id (doc_id mod the per-copy
    offset) is below PFJ_BASES, in every copy; other tables symlinked."""
    sub = dst.rstrip("/") + "_pfj"
    os.makedirs(sub, exist_ok=True)
    for name in (*VERBATIM, *REMAP):
        target, link = os.path.abspath(f"{dst}/{name}.parquet"), f"{sub}/{name}.parquet"
        if name != "documents" and os.path.exists(target) and not os.path.lexists(link):
            os.symlink(target, link)
    docs = pq.read_table(f"{dst}/documents.parquet")
    keep = docs.column("doc_id").to_numpy() % period < PFJ_BASES
    pq.write_table(docs.filter(pa.array(keep)).sort_by("doc_id"), f"{sub}/documents.parquet")
    print(f"{sub}: documents {docs.num_rows} -> {int(keep.sum())} rows, other tables linked")


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("src", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("dst", nargs="?", default="/tmp/sf1")
    ap.add_argument(
        "--copies",
        type=int,
        default=COPIES,
        help="replication factor (10 -> sf1 from sf0.1; 3 -> sf0.3-class)",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma list: generate only these tables (FK edges fully inside "
        "the subset are still checked; edges crossing out of it warn). "
        "The single-generation scale corpora for the graph/embedding "
        "verdicts need only documents,embeddings — e.g. --copies 300 "
        "--tables documents,embeddings builds an sf30-class corpus whose "
        "copies each carry exactly ONE family suffix token, so transitive "
        "near-dup linking stays bounded per base document (thousands of "
        "components) instead of the one-giant-component collapse that "
        "three generations of CUMULATIVE suffixing produce.",
    )
    args = ap.parse_args()
    src, dst, copies = args.src, args.dst, args.copies
    only = set(args.tables.split(",")) if args.tables else None
    os.makedirs(dst, exist_ok=True)

    offsets: dict[str, int] = {}
    for domain, (tbl, col) in KEY_DOMAINS.items():
        m = pc.max(pq.read_table(f"{src}/{tbl}.parquet", columns=[col]).column(col))
        offsets[domain] = int(m.as_py()) + 1

    for name in VERBATIM:
        if only is not None and name not in only:
            continue
        t = pq.read_table(f"{src}/{name}.parquet")
        pq.write_table(t, f"{dst}/{name}.parquet")
        print(f"{name}: {t.num_rows} rows (verbatim)")

    for name in REMAP:
        if only is not None and name not in only:
            continue
        base = pq.read_table(f"{src}/{name}.parquet")
        parts = [_copy(base, name, i, offsets) for i in range(copies)]
        full = pa.concat_tables(parts).cast(base.schema)
        pq.write_table(full, f"{dst}/{name}.parquet")
        print(f"{name}: {base.num_rows} -> {full.num_rows} rows")

    _assert_referential_integrity(dst, only)
    if only is None or "documents" in only:
        _write_pfj_subcorpus(dst, offsets["doc_id"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
