"""Per-run correctness gate: the crawl's committed snapshot against the
reference model's golden for the same world, compared the way
``tests/test_parity.py`` compares them (span sequence per ``doc_id``,
crawl order, URL-seen set)."""

from __future__ import annotations

from news_crawler_spark.sources.store import SnapshotStore

from .worlds import Golden


def mismatches(spark, store: SnapshotStore, golden: Golden) -> list[str]:
    """Every way the snapshot differs from the golden; empty when equal."""
    out: list[str] = []
    docs_df = store.read(spark, "documents")
    rows = docs_df.select("doc_id", "spans", "url_canon", "crawl_order").collect() \
        if docs_df is not None else []
    eng = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
           for r in rows}
    if len(eng) != len(rows):
        out.append(f"documents: {len(rows) - len(eng)} duplicate doc_id rows")
    if set(eng) != set(golden.docs):
        out.append(f"documents: {len(set(eng) - set(golden.docs))} extra, "
                   f"{len(set(golden.docs) - set(eng))} missing doc_ids "
                   f"(golden {len(golden.docs)})")
    bad_spans = [d for d in golden.docs if d in eng and eng[d] != golden.docs[d]]
    if bad_spans:
        out.append(f"spans: {len(bad_spans)} doc_ids differ, e.g. {bad_spans[0]}")
    order = [r.url_canon for r in sorted(rows, key=lambda r: r.crawl_order)]
    if order != golden.order:
        first = next((i for i, (a, b) in enumerate(zip(order, golden.order)) if a != b),
                     min(len(order), len(golden.order)))
        out.append(f"crawl order: first difference at position {first}")
    seen_df = store.read(spark, "seen")
    seen = {r.url_canon for r in seen_df.collect()} if seen_df is not None else set()
    if seen != golden.seen:
        out.append(f"seen set: {len(seen - golden.seen)} extra, "
                   f"{len(golden.seen - seen)} missing (golden {len(golden.seen)})")
    return out
