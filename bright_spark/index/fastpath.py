"""Driver-side (zero-Spark-job) mutation fast path.

A small mutation against a snapshot index is a HEAD-NODE operation:
the change set is already driver-resident, every artifact it produces
is bounded by the batch (postings/stats deltas, tombstones) or by the
touched doc-range groups (docs-group rewrite), and the kernels that
produce those artifacts are the same arrow/numpy functions the
distributed mapInArrow stages wrap. Scheduling half a dozen
distributed jobs for a 50-document upsert buys no parallelism and
costs a fixed scheduling round-trip per job — on a 1000-executor
cluster it also occupies scheduler slots for work one core finishes in
milliseconds. The reference behaves the same way: a batch insert is
one in-process Bleve batch (store/store.go:392-426), not a cluster
job.

This module runs the whole mutation commit with pyarrow: the batch is
tokenized once (its partial rows give both the postings delta and each
doc's ``doc_len``), the partial rows go through the same merge kernel
as arrow record batches, and the docs table is split per doc-range
group as before. The postings delta and the signed stats delta are
each written as ONE term-sorted file in a shared ``delta/v<N>`` dir
(catalog layout v5), appended to the chain of every bucket with rows
in it: a 20-doc upsert against a 16-bucket index commits 5 files, not
35, and a delete 4, not 19 (the manifest's ``files_written``). Chains
grow exactly as they did with one delta dir per touched bucket, so
``delta_depth`` and the auto-compaction trigger are unchanged, and so
are the rows: bit-identical query results (pinned by the
fast==distributed pytest in test_fastpath.py and the ft_mutate_*
oracle gate). Eligibility is decided BEFORE anything is written, so
an ineligible call falls back to the distributed path with zero side
effects; above ``mutations.FAST_THRESHOLD`` ids or
``mutations.FAST_MAX_GROUP_BYTES`` of touched docs-group files (module
constants read at call time) the distributed path takes over
unchanged, so the 10^12-doc story is the same commit protocol at a
different executor count. A commit that leaves a chain longer than
``mutations.COMPACT_THRESHOLD`` dirs compacts, as on the distributed
path.
"""
from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from bright_spark.index import codec
from bright_spark.index.catalog import (
    TERM_STATS_ARROW,
    term_bucket,
    write_delta_part,
    write_part,
)


def merge_tombstones(pending, present_ids: np.ndarray, old_tomb) -> None:
    """(doc_id, ver) tombstone merge — newly present ids stamped with
    this snapshot's version, last version wins per id. The single
    shared implementation: the distributed append path
    (mutations._apply_append) calls this same function."""
    if present_ids.size == 0:
        return
    sid = pending.snapshot_id
    if old_tomb is not None:
        allids = np.concatenate([old_tomb[0], present_ids])
        allvers = np.concatenate(
            [old_tomb[1], np.full(present_ids.size, sid, np.int64)])
        order = np.lexsort((allvers, allids))
        allids, allvers = allids[order], allvers[order]
        last = np.concatenate([allids[1:] != allids[:-1], [True]])
        pending.write_tombstones(allids[last], allvers[last])
    else:
        pending.write_tombstones(
            present_ids, np.full(present_ids.size, sid, np.int64))


def _sha256_series(texts: pd.Series) -> pd.Series:
    """Parity with F.sha2(col, 256): lowercase hex over UTF-8 bytes,
    null in -> null out."""
    return texts.map(
        lambda v: None if pd.isna(v)
        else hashlib.sha256(str(v).encode("utf-8")).hexdigest())


def _signed_stats(partials: pa.Table | None,
                  sign: int) -> pa.Table | None:
    """Partial posting rows -> SIGNED per-row (field, term, df, cf):
    df = ±(docs in the run), cf = ±Σtf, one segmented sum over the
    flattened ``tfs`` (an empty row sums to 0)."""
    if partials is None or not partials.num_rows:
        return None
    lens = pc.list_value_length(partials["tfs"]).to_numpy().astype(np.int64)
    ends = np.cumsum(lens)
    cum = np.concatenate(([0], np.cumsum(
        codec.list_values(partials["tfs"]), dtype=np.int64)))
    return pa.table({
        "field": partials["field"], "term": partials["term"],
        "df": sign * lens, "cf": sign * (cum[ends] - cum[ends - lens])})


def apply_fast(mut, changed_pdf: pd.DataFrame | None = None,
               deleted: np.ndarray | None = None) -> bool:
    """Run one mutation commit entirely on the driver. Returns True on
    success (committed, or a provable no-op); False when the index or
    batch is ineligible — the caller then runs the distributed path.
    Every ineligibility exit happens BEFORE the first write."""
    from bright_spark.index import mutations
    from bright_spark.index.builder import _make_merge_fn
    cat = mut.catalog
    cfg = mut.config
    try:
        old_meta = cat.load_meta()
    except FileNotFoundError:
        return False
    if not cfg.store_content:
        return False
    if changed_pdf is not None and not mut.extra["id_col"]:
        return False  # natural-key id assignment needs the key lookup
    pending = cat.begin()
    bits = int(old_meta["docs_range_bits"])
    b = mut._builder()

    # ---- normalize the changed batch (what _tokenize_updates does for
    # the id_col case: rename + cast, sha256, doc_len) and tokenize it
    # once: doc_len is the content field's Σtf in the batch's partials
    # (0 for a doc without terms), as in the driver build
    pdf = None
    partials_new = None
    if changed_pdf is not None and len(changed_pdf):
        pdf = changed_pdf.copy()
        id_col = mut.extra["id_col"]
        if id_col != "doc_id":
            pdf = pdf.rename(columns={id_col: "doc_id"})
        pdf["doc_id"] = pdf["doc_id"].astype("int64")
        kcols = ["doc_id", *b.field_cols] + ([b.lang_col] if b.lang_col
                                              else [])
        if not set(kcols) <= set(pdf.columns):
            return False  # the stored-doc shape check below would fail
        try:
            partials_new = b._partials(pa.Table.from_pandas(
                pdf[kcols], preserve_index=False))
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            return False
        pdf["content_sha256"] = _sha256_series(pdf[b.content_col])
        ids = pdf["doc_id"].to_numpy()
        doc_len = np.zeros(ids.size, np.int32)
        if partials_new is not None:
            own = partials_new.filter(
                pc.equal(partials_new["field"], b.content_col))
            order = np.argsort(ids, kind="stable")
            doc_len[order[np.searchsorted(
                ids, codec.list_values(own["doc_ids"]), sorter=order)]] = \
                codec.list_values(own["dls"])
        pdf["doc_len"] = doc_len

    ch_ids = (np.unique(pdf["doc_id"].to_numpy(np.int64))
              if pdf is not None else np.empty(0, np.int64))
    del_ids = (np.unique(np.asarray(deleted, dtype=np.int64))
               if deleted is not None else np.empty(0, np.int64))
    all_ids = np.union1d(ch_ids, del_ids)
    if all_ids.size == 0:
        return True  # same no-op as the distributed path's early return

    # ---- affected doc-range groups + byte budget: the ONLY corpus
    # data this path reads is the touched groups' files
    groups = [int(g) for g in np.unique(all_ids >> np.int64(bits))]
    group_files: dict[int, list[str]] = {}
    total_bytes = 0
    for g in groups:
        files = cat._files(pending.part_dirs("docs", [g]))
        if files:
            group_files[g] = files
            total_bytes += sum(os.path.getsize(f) for f in files)
    if total_bytes > mutations.FAST_MAX_GROUP_BYTES:
        return False

    # docs file schema: identical to what Spark wrote (read from any
    # existing part file); a doc-less index falls back
    schema = None
    if group_files:
        schema = cat.file_schema(next(iter(group_files.values()))[0])
    else:
        for d in pending.part_dirs("docs"):
            fs = cat._files([d])
            if fs:
                schema = cat.file_schema(fs[0])
                break
    if schema is None:
        return False
    if pdf is not None and not set(schema.names) <= set(pdf.columns):
        return False  # changed rows can't fill the stored-doc shape
    need = {"doc_id", *b.field_cols} | ({b.lang_col} if b.lang_col else set())
    if not need <= set(schema.names):
        return False  # stored docs can't feed the re-tokenize kernels

    # ---- build every artifact in memory BEFORE the first write
    try:
        ch_tab = (pa.Table.from_pandas(pdf[list(schema.names)],
                                       schema=schema, preserve_index=False)
                  if pdf is not None else None)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return False

    ids_pa = pa.array(all_ids, type=pa.int64())
    replaced_parts = []
    surv_parts: dict[int, pa.Table] = {}
    for g, files in group_files.items():
        tab = pa.concat_tables([cat.read_file(f) for f in files])
        mask = pc.is_in(tab["doc_id"], value_set=ids_pa)
        hit = tab.filter(mask)
        if hit.num_rows:
            replaced_parts.append(hit)
        surv_parts[g] = tab.filter(pc.invert(mask))
    replaced_tab = (pa.concat_tables(replaced_parts)
                    if replaced_parts else None)
    present_raw = (replaced_tab["doc_id"].to_numpy().astype(np.int64)
                   if replaced_tab is not None
                   else np.empty(0, np.int64))
    n_present = int(present_raw.size)

    # new docs-group contents (survivors + changed rows, doc_id-sorted)
    out_docs: dict[int, pa.Table] = {}
    if ch_tab is not None:
        ch_groups = pc.shift_right(ch_tab["doc_id"], pa.scalar(bits))
    for g in groups:
        parts = []
        surv = surv_parts.get(g)
        if surv is not None and surv.num_rows:
            parts.append(surv)
        if ch_tab is not None:
            mine = ch_tab.filter(pc.equal(ch_groups, pa.scalar(g)))
            if mine.num_rows:
                parts.append(mine)
        if parts:
            merged = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            out_docs[g] = merged.sort_by("doc_id")

    # postings delta + signed stats from the SAME kernels the
    # distributed stages wrap
    partials_old = None
    if replaced_tab is not None:
        partials_old = b._partials(replaced_tab)
    post = None
    if partials_new is not None:
        mf = _make_merge_fn(cfg.block_size, cfg.n_term_buckets,
                            bool(cfg.store_positions),
                            ver=pending.snapshot_id)
        merged = list(mf(partials_new.to_batches()))
        if merged:
            post = pa.Table.from_batches(merged).sort_by(
                [("term", "ascending"), ("field", "ascending"),
                 ("range_id", "ascending")])

    signed = [s for s in (_signed_stats(partials_old, -1),
                          _signed_stats(partials_new, 1))
              if s is not None]
    stats = None
    field_delta: dict[str, int] = {}
    if signed:
        allsigned = pa.concat_tables(signed)
        tot = allsigned.group_by("field").aggregate([("cf", "sum")])
        field_delta = dict(zip(tot["field"].to_pylist(),
                               tot["cf_sum"].to_pylist()))
        delta = allsigned.group_by(["field", "term"]).aggregate(
            [("df", "sum"), ("cf", "sum")])
        delta = delta.filter(pc.or_(pc.not_equal(delta["df_sum"], 0),
                                    pc.not_equal(delta["cf_sum"], 0)))
        if delta.num_rows:
            bucket = pa.array([term_bucket(t, cfg.n_term_buckets)
                               for t in delta["term"].to_pylist()],
                              pa.int32())
            stats = pa.Table.from_arrays(
                [delta["field"], delta["term"], delta["df_sum"],
                 delta["cf_sum"], bucket], schema=TERM_STATS_ARROW
            ).sort_by([("term", "ascending"), ("field", "ascending")])

    # ---- writes (all artifacts validated; from here the commit
    # protocol is identical to the distributed path's)
    old_tomb = cat.tombstones()
    for g, tab in out_docs.items():
        write_part(pending.adopt_part("docs", g), tab, pending,
                   all_statistics=True)
    for g in set(groups) - set(out_docs):
        pending.drop_part("docs", g)
    # one shared delta file per table, chained into every bucket it
    # holds rows of
    post_buckets = []
    if post is not None:
        post_buckets = np.unique(post["bucket"].to_numpy()).tolist()
        write_delta_part(pending.adopt_delta("postings", post_buckets), post,
                         pending)
    if stats is not None:
        write_delta_part(pending.adopt_delta(
            "term_stats", np.unique(stats["bucket"].to_numpy()).tolist()),
            stats, pending)
    merge_tombstones(pending, present_raw, old_tomb)

    n_changed = int(ch_ids.size if pdf is not None else del_ids.size)
    n_docs_new = (int(old_meta["n_docs"]) - n_present
                  + (n_changed if pdf is not None else 0))
    old_fs = old_meta.get("field_stats") or {}
    field_tokens = {
        f: (int((old_fs.get(f) or {}).get("total_tokens", 0))
            + field_delta.get(f, 0))
        for f in b.field_cols
    }
    meta = b._make_meta(n_docs_new, field_tokens,
                        old_meta.get("docs_schema"))
    b._write_index_meta(pending, meta)
    pending.commit(
        meta, "upsert" if pdf is not None else "delete",
        metrics={"n_changed": n_changed,
                 "docs_groups_rewritten": len(out_docs),
                 "mode": "append-fast",
                 "buckets_appended": len(post_buckets),
                 "tombstones_added": n_present})
    mut._maybe_compact()
    return True
