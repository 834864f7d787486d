"""Streaming vector ingest with exactly-once IVF index maintenance.

The batch side (``operators/similarity.py``) persists a trained IVF
index as a table sidecar — codebook + cell-partitioned posting lists —
and ``maintain_ivf_index`` advances it by exactly the files appended
(and deletion-vector batches committed) since the last build or
maintain.  This module is the streaming form: a
``foreachBatch`` sink that lands each micro-batch of vectors in the
table AND keeps the posting lists fresh, so the serving path
(``ivf_search_indexed``) never trips the staleness gate on an
append-only corpus.

This is the steady-state ANN story at 100 TB: the corpus grows by
stream, the index grows by O(batch) posting appends (no corpus
re-scan, no retraining), and searches stay partition-pruned to probed
cells.  Retraining the codebook (``build_ivf_index``) remains an
out-of-band decision when the distribution shifts — the codebook is
the recall budget, not the postings.

Exactly-once layout (the ``streaming/rollup.py`` idempotence pattern,
extended to cover the index):

- each epoch's vectors land in their OWN hive partition directory,
  ``<table>/ingest_epoch=<n>/`` — the layout every reader here already
  understands (``read_mor`` basePath reads, ``list_data_files``
  recursive walks);
- a replay of a COMMITTED epoch (crash after the checkpoint write was
  decided but before it landed) sees the sink's own
  ``_EPOCH_COMMITTED`` sentinel (written by this module right after the
  data write — robust to committers configured not to emit
  ``_SUCCESS``, which is still honored when present) and skips the data
  write, so rows are never duplicated;
- a replay of a CRASHED epoch overwrites the partial directory.  The
  partial files were never indexed — the maintain runs strictly after
  the data write commits — so no posting references them, and the
  staleness anchor never listed them (``removed = built - now`` stays
  empty: retiring never-indexed debris is invisible to the gate);
- a crash AFTER the maintain but before the checkpoint commit replays
  into a skip-write + no-op maintain: the anchor already covers the
  epoch's files, ``maintain_ivf_index`` sees nothing added and returns
  zeros.  The index never double-counts.

A micro-batch is append-shaped by construction, but OTHER writers may
land deletion-vector batches between epochs; maintenance folds those in
too (identity-precise removal) instead of wedging the index behind a
rebuild.  Only file-RETIRING interference
(compaction, materialize) still demands a rebuild; the sink downgrades
that error to a ``warnings.warn`` and KEEPS INGESTING — losing the
ingest stream because a maintenance job compacted the table is the
worse failure, and searches stay protected by the gate (they refuse
until ``build_ivf_index`` runs) rather than silently serving a
desynced index.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from ..operators.reader import _fs
from ..operators.similarity import maintain_ivf_index, read_ivf_index
from ..operators.storage import _write_small_file, _WriterLockHeld


def ingest_vectors_maintaining_ivf(
    vectors_stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """Start a ``foreachBatch`` sink appending each micro-batch of
    ``(id, embedding)`` rows to ``table_path`` (one ``ingest_epoch=<n>``
    partition per epoch) and advancing the persisted IVF posting lists
    by exactly the new rows.  Returns the StreamingQuery (caller drives
    it, e.g. ``processAllAvailable`` in tests).

    The index is OPTIONAL at start: epochs that land before
    ``build_ivf_index`` has run are simply unindexed (the staleness
    gate keeps searches honest); once an index exists, every subsequent
    epoch maintains it in the same ``foreachBatch`` call, after the
    epoch's data write commits.  Build the index over a quiet table or
    accept that the first post-build epoch maintains the gap — both
    orders converge because maintain is anchored on file sets, not time.
    """

    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # this sink OWNS the table layout (one hive partition dir per
        # epoch).  A table that already holds FLAT parquet files would
        # become a mixed flat/partitioned layout Spark cannot list —
        # refuse loudly instead of writing an unreadable table
        jvm, fs, root_jp = _fs(spark, table_path)
        if fs.exists(root_jp):
            flat = [
                st.getPath().getName()
                for st in fs.listStatus(root_jp)
                if st.isFile()
                and not st.getPath().getName().startswith(("_", "."))
            ]
            if flat:
                raise ValueError(
                    f"{table_path} holds {len(flat)} flat data file(s) "
                    "(e.g. "
                    f"{flat[0]}); the streaming vector sink writes one "
                    "ingest_epoch=<n> partition per micro-batch and a "
                    "mixed flat/partitioned layout is unreadable — "
                    "start from an empty directory, or rewrite the "
                    "existing table into the partitioned layout first"
                )
        dest = f"{table_path.rstrip('/')}/ingest_epoch={epoch_id}"
        # the sink writes its OWN commit sentinel rather than trusting
        # the committer's _SUCCESS: object-store deployments commonly
        # disable mapreduce.fileoutputcommitter.marksuccessfuljobs, and
        # a replay that misses the marker takes the overwrite path —
        # rewriting a committed-and-indexed partition under new part
        # file names and retiring files the postings anchor references
        # (gate-protected, but a needless full rebuild).  _SUCCESS is
        # still honored when present (tables written before the
        # sentinel existed must not be overwritten on replay either).
        own_marker = f"{dest}/_EPOCH_COMMITTED"
        own = fs.exists(jvm.org.apache.hadoop.fs.Path(own_marker))
        if own or fs.exists(jvm.org.apache.hadoop.fs.Path(f"{dest}/_SUCCESS")):
            # at-least-once replay of a committed epoch: the vectors are
            # already live; fall through to the maintain, which is a
            # no-op if its crash window didn't hit.  Backfill the sink's
            # own sentinel when only _SUCCESS vouches for the epoch
            # (pre-sentinel table, or a crash between the data write and
            # the sentinel write): otherwise the epoch stays permanently
            # dependent on the committer marker object-store lifecycle
            # rules may strip — the exact trust this sentinel removes.
            if not own:
                _write_small_file(spark, own_marker, b"")
        else:
            # overwrite, not append: a crashed attempt's partial files
            # must be retired, not joined, or the replay double-lands
            # the rows that did make it out
            batch.select(id_col, emb_col).write.mode("overwrite").parquet(
                dest
            )
            # sentinel AFTER the data write: a crash in between replays
            # into the overwrite path, which is safe — the un-sentineled
            # files were never indexed (maintain runs strictly later)
            _write_small_file(spark, own_marker, b"")
        if read_ivf_index(spark, table_path, emb_col) is None:
            return  # pre-build epochs stay unindexed (gate protects reads)
        try:
            maintain_ivf_index(
                spark, table_path, emb_col=emb_col, id_col=id_col
            )
        except (ValueError, _WriterLockHeld) as e:
            # file-retiring interference (compaction/materialize), crash
            # debris, OR a concurrent maintain/build holding the
            # index lock past the wait: the index may need a rebuild or
            # just a later retry, but the INGEST must not die for it —
            # searches are gate-protected either way.  Loud,
            # attributable, non-fatal.
            warnings.warn(
                f"IVF maintenance skipped at epoch {epoch_id}: {e}",
                stacklevel=2,
            )

    return (
        vectors_stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )
