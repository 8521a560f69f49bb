"""Driver-side (zero-Spark-job) mutation fast path.

A small mutation against a v4 snapshot index is a HEAD-NODE operation:
the change set is already driver-resident, every artifact it produces
is bounded by the batch (postings/stats deltas, tombstones) or by the
touched doc-range groups (docs-group rewrite), and the kernels that
produce those artifacts are the same pandas/numpy functions the
distributed mapInPandas stages wrap. Scheduling half a dozen
distributed jobs for a 50-document upsert buys no parallelism and
costs a fixed scheduling round-trip per job — on a 1000-executor
cluster it also occupies scheduler slots for work one core finishes in
milliseconds. The reference behaves the same way: a batch insert is
one in-process Bleve batch (store/store.go:392-426), not a cluster
job.

This module runs the whole mutation commit with pandas + pyarrow:
same tokenize/merge kernels, same file layout and sort orders, same
manifest bookkeeping — bit-identical query results (pinned by the
fast==distributed pytest in test_mutations.py and the ft_mutate_*
oracle gate). Eligibility is decided BEFORE anything is written, so
an ineligible call falls back to the distributed path with zero side
effects; above the size/byte thresholds the distributed path takes
over unchanged, so the 10^12-doc story is the same commit protocol at
a different executor count.
"""
from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from bright_spark.analysis.tokenizer import count_terms_batch
from bright_spark.index.catalog import (
    POSTINGS_ARROW,
    TERM_STATS_ARROW,
    term_bucket,
    write_part,
)

_LIST_I64 = pa.list_(pa.int64())
_LIST_I32 = pa.list_(pa.int32())
_LIST_BIN = pa.list_(pa.binary())


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


def _partials_pdf(builder, cfg, pdf: pd.DataFrame) -> pd.DataFrame | None:
    """Run the fused tokenize+combine kernel (the mapInPandas body) on
    one driver-resident batch."""
    from bright_spark.index.builder import _make_tokenize_partials_fn
    cols = ["doc_id"] + builder.field_cols
    if builder.lang_col:
        cols.append(builder.lang_col)
    fn = _make_tokenize_partials_fn(
        builder.field_cols, builder.lang_col, cfg.tokenizer,
        builder.filter_stopwords, int(cfg.range_bits),
        store_positions=bool(cfg.store_positions))
    parts = [p for p in fn(iter([pdf[cols]])) if p is not None and len(p)]
    if not parts:
        return None
    return pd.concat(parts, ignore_index=True)


def _signed_stats_pdf(partials: pd.DataFrame | None,
                      sign: int) -> pd.DataFrame | None:
    if partials is None or not len(partials):
        return None
    return pd.DataFrame({
        "field": partials["field"].to_numpy(),
        "term": partials["term"].to_numpy(),
        "df": sign * partials["doc_ids"].str.len().to_numpy(np.int64),
        "cf": sign * np.fromiter(
            (int(np.sum(a)) for a in partials["tfs"]),
            dtype=np.int64, count=len(partials)),
    })


def _postings_table(rows: pd.DataFrame, snapshot_id: int) -> pa.Table:
    """Merge-kernel output rows -> one arrow table in on-disk shape."""

    def lists(col, typ):
        # the kernel's cells are python lists: arrow converts them in one
        # pass, without a numpy array per cell
        return pa.array(rows[col].tolist(), type=typ)

    n = len(rows)
    return pa.Table.from_arrays([
        pa.array(rows["bucket"].to_numpy(np.int64), type=pa.int32()),
        pa.array(rows["field"], type=pa.string()),
        pa.array(rows["term"], type=pa.string()),
        pa.array(rows["range_id"].to_numpy(np.int64), type=pa.int64()),
        pa.array(rows["df_chunk"].to_numpy(np.int64), type=pa.int32()),
        pa.array(rows["cf_chunk"].to_numpy(np.int64), type=pa.int64()),
        lists("first_doc", _LIST_I64), lists("max_doc", _LIST_I64),
        lists("n", _LIST_I32), lists("max_tf", _LIST_I32),
        lists("min_dl", _LIST_I32), lists("docs", _LIST_BIN),
        lists("tfs", _LIST_BIN), lists("dls", _LIST_BIN),
        lists("pos", _LIST_BIN),
        pa.array(np.full(n, snapshot_id, np.int64), type=pa.int64()),
    ], schema=POSTINGS_ARROW)


def apply_fast(mut, changed_pdf: pd.DataFrame | None = None,
               deleted: np.ndarray | None = None) -> bool:
    """Run one mutation commit entirely on the driver. Returns True on
    success (committed, or a provable no-op); False when the index or
    batch is ineligible — the caller then runs the distributed path.
    Every ineligibility exit happens BEFORE the first write."""
    cat = mut.catalog
    cfg = mut.config
    try:
        old_meta = cat.load_meta()
    except FileNotFoundError:
        return False
    if (int(old_meta.get("version") or 0) < 4
            or old_meta.get("docs_range_bits") is None
            or not cfg.store_content):
        return False
    if changed_pdf is not None and not mut.extra.get("id_col"):
        return False  # natural-key id assignment needs the key lookup
    pending = cat.begin()
    if (not isinstance(pending.tables.get("docs"), dict)
            or not isinstance(pending.tables.get("term_stats"), dict)):
        return False
    bits = int(old_meta["docs_range_bits"])
    b = mut._builder()

    # ---- normalize the changed batch (what _tokenize_updates does for
    # the id_col case: rename + cast, sha256, doc_len)
    pdf = None
    if changed_pdf is not None and len(changed_pdf):
        pdf = changed_pdf.copy()
        id_col = mut.extra["id_col"]
        if id_col != "doc_id":
            pdf = pdf.rename(columns={id_col: "doc_id"})
        pdf["doc_id"] = pdf["doc_id"].astype("int64")
        texts = pdf[b.content_col]
        langs = (pdf[b.lang_col].tolist() if b.lang_col
                 else [None] * len(pdf))
        pdf["content_sha256"] = _sha256_series(texts)
        _, _, dlens = count_terms_batch(
            texts.tolist(), cfg.tokenizer, langs, b.filter_stopwords)
        pdf["doc_len"] = pd.Series(dlens, index=pdf.index, dtype="int32")

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
        files = [f for d in pending.part_dirs("docs", [g])
                 for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]
        if files:
            group_files[g] = files
            total_bytes += sum(os.path.getsize(f) for f in files)
    if total_bytes > mut.fast_max_group_bytes:
        return False

    # docs file schema: identical to what Spark wrote (read from any
    # existing part file); a doc-less index falls back
    schema = None
    if group_files:
        schema = pq.read_schema(next(iter(group_files.values()))[0])
    else:
        dmap = pending.tables["docs"]
        for k in sorted(dmap, key=int):
            d = os.path.join(cat.index_dir, dmap[k]) \
                if isinstance(dmap[k], str) else None
            fs = sorted(glob.glob(os.path.join(d, "*.parquet"))) if d else []
            if fs:
                schema = pq.read_schema(fs[0])
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
        tab = pq.read_table(files)
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
    partials_new = _partials_pdf(b, cfg, pdf) if pdf is not None else None
    partials_old = None
    if replaced_tab is not None:
        rp_cols = ["doc_id"] + b.field_cols
        if b.lang_col:
            rp_cols.append(b.lang_col)
        partials_old = _partials_pdf(b, cfg, replaced_tab.select(
            [c for c in rp_cols if c in replaced_tab.schema.names]
        ).to_pandas())
    post_by_bucket: dict[int, pa.Table] = {}
    if partials_new is not None:
        from bright_spark.index.builder import _make_merge_fn
        mf = _make_merge_fn(cfg.block_size, cfg.n_term_buckets,
                            bool(cfg.store_positions))
        merged = [m for m in mf(iter([partials_new])) if len(m)]
        if merged:
            rows = pd.concat(merged, ignore_index=True).sort_values(
                ["term", "field", "range_id"], kind="stable",
                ignore_index=True)
            for bkt, sub in rows.groupby("bucket", sort=True):
                post_by_bucket[int(bkt)] = _postings_table(
                    sub.reset_index(drop=True), pending.snapshot_id)

    signed = [s for s in (_signed_stats_pdf(partials_old, -1),
                          _signed_stats_pdf(partials_new, 1))
              if s is not None]
    stats_by_bucket: dict[int, pa.Table] = {}
    field_delta: dict[str, int] = {}
    if signed:
        allsigned = pd.concat(signed, ignore_index=True)
        for f, v in allsigned.groupby("field")["cf"].sum().items():
            field_delta[str(f)] = int(v)
        delta = (allsigned.groupby(["field", "term"], as_index=False)
                 [["df", "cf"]].sum())
        delta = delta[(delta["df"] != 0) | (delta["cf"] != 0)]
        if len(delta):
            delta["bucket"] = [
                term_bucket(t, cfg.n_term_buckets) for t in delta["term"]]
            delta = delta.sort_values(["term", "field"], kind="stable")
            for bkt, sub in delta.groupby("bucket", sort=True):
                stats_by_bucket[int(bkt)] = pa.Table.from_arrays([
                    pa.array(sub["field"], type=pa.string()),
                    pa.array(sub["term"], type=pa.string()),
                    pa.array(sub["df"].to_numpy(np.int64)),
                    pa.array(sub["cf"].to_numpy(np.int64)),
                    pa.array(sub["bucket"].to_numpy(np.int64),
                             type=pa.int32()),
                ], schema=TERM_STATS_ARROW)

    # ---- writes (all artifacts validated; from here the commit
    # protocol is identical to the distributed path's)
    old_tomb = cat.tombstones()
    for g, tab in out_docs.items():
        write_part(pending.adopt_part("docs", g), tab)
    for g in set(groups) - set(out_docs):
        pending.drop_part("docs", g)
    for bkt, tab in post_by_bucket.items():
        write_part(pending.adopt_part_delta("postings", bkt), tab)
    for bkt, tab in stats_by_bucket.items():
        write_part(pending.adopt_part_delta("term_stats", bkt), tab)
    merge_tombstones(pending, present_raw, old_tomb)

    n_changed = int(ch_ids.size if pdf is not None else del_ids.size)
    n_docs_new = (int(old_meta.get("n_docs") or 0) - n_present
                  + (n_changed if pdf is not None else 0))
    old_fs = old_meta.get("field_stats") or {}
    field_tokens = {
        f: (int((old_fs.get(f) or {}).get("total_tokens", 0))
            + field_delta.get(f, 0))
        for f in b.field_cols
    }
    meta = b._make_meta(n_docs_new, field_tokens,
                        old_meta.get("docs_schema"))
    meta["docs_range_bits"] = old_meta.get("docs_range_bits",
                                           cfg.docs_range_bits)
    b._write_index_meta(pending, meta)
    pending.commit(
        meta, "upsert" if pdf is not None else "delete",
        metrics={"n_changed": n_changed,
                 "docs_groups_rewritten": len(out_docs),
                 "mode": "append-fast",
                 "buckets_appended": len(post_by_bucket),
                 "tombstones_added": n_present})
    if (mut.compact_threshold
            and max(cat.delta_depth("postings"),
                    cat.delta_depth("term_stats"))
            > mut.compact_threshold):
        mut.compact()
    return True
