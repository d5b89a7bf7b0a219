"""The index commit: ``manifest.jsonl`` and ``stats.json`` parsed once.

The manifest (the ``segments_N`` / ``core/index/SegmentInfos.java`` analog)
is an append-only JSONL log, one fsynced line per record:

  * build batch  ``{"batch": N, "status": "committed", "per_segment": ...}``
    — postings, term, doc and stat rows under ``segments/batch=N``;
  * append job   ``{"type": "append_job", "batch_offset", "seg_offset",
    "n_batches"}`` — the batch range an append claims, so a crashed append
    resumes at its own offsets;
  * merge        ``{"type": "merge", "status": "committed", "merge_id": K,
    "inputs": [uid, ...], "out": "postings_merged_mK", "unit_doc_stats",
    "unit_field_stats", "purged_gids", ...}``;
  * delete       ``{"type": "delete", "status": "committed", "path": ...}``
    — a parquet of deleted gids (the ``.liv`` analog).

Unit model. A merge *unit* is either a committed build batch ("b<N>",
postings at segments/batch=N/row_type=post) or a committed merge output
("m<K>", postings at postings_merged_m<K>). A unit is LIVE until a later
committed merge lists it in ``inputs`` — the SegmentInfos view of the index.
The searcher reads exactly the live units; tiered_merge folds one tier of
live units at a time (TieredMergePolicy.java:89-95 analog), so a
continuously appended index pays O(tier) per refresh, never O(index).

``stats.json`` holds what finalize derives from the live units (collection
and per-field stats, ``max_gid``), the build config fixed at creation
(``BUILD_CONFIG_KEYS``) and the format number; it is replaced atomically.
An index whose ``stats.json`` carries another format is refused.

Every index table is read through ``read_table`` with its schema pinned, so
no read runs a parquet footer-inference job.
"""

from __future__ import annotations

import functools
import json
import os
from contextlib import contextmanager
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, types as T

from ..plans.fields import FIELD_SEP

# v4: stats.json carries "format"; merge records always carry merge_id,
# inputs, out, unit_doc_stats and unit_field_stats
FORMAT_VERSION = 4

# stats.json keys set at creation that every finalize carries over
BUILD_CONFIG_KEYS = (
    "index_sort", "with_offsets", "with_payloads", "char_filter",
    "synonyms_fp", "stream_filter_fp",
)

STAGING_SCHEMA = T.StructType(
    [
        T.StructField("row_type", T.StringType()),
        T.StructField("seg", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("block_ord", T.IntegerType()),
        T.StructField("doc_count", T.IntegerType()),
        T.StructField("first_gid", T.LongType()),
        T.StructField("last_gid", T.LongType()),
        T.StructField("gids", T.BinaryType()),
        T.StructField("freqs", T.BinaryType()),
        T.StructField("norms", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
        # offsets mode (IndexOptions ..._AND_OFFSETS): per-token start-offset
        # delta stream + raw token-length stream, position-aligned; null
        # when the index stores no offsets
        T.StructField("off_starts", T.BinaryType()),
        T.StructField("off_lens", T.BinaryType()),
        # payloads mode: per-occurrence integer payload stream, position-
        # aligned (PayloadAttribute / .pay file analog); null when the
        # index stores no payloads
        T.StructField("payloads", T.BinaryType()),
        T.StructField("imp_freqs", T.ArrayType(T.LongType())),
        T.StructField("imp_norms", T.ArrayType(T.IntegerType())),
        T.StructField("gid", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("doc_len", T.IntegerType()),
        T.StructField("norm_b", T.IntegerType()),
        T.StructField("doc_freq", T.LongType()),
        T.StructField("total_term_freq", T.LongType()),
        # segstat rows: one per segment, so manifest metrics + collection
        # stats need no extra Spark jobs (driver reads a handful of rows)
        T.StructField("s_n_docs", T.LongType()),
        T.StructField("s_doc_count", T.LongType()),
        T.StructField("s_sum_dl", T.LongType()),
        T.StructField("s_max_gid", T.LongType()),
        T.StructField("s_n_terms", T.LongType()),
        T.StructField("s_n_postings", T.LongType()),
        # doc rows of a sort_by index: the doc's index-sort key
        # (IndexWriterConfig.setIndexSort analog); null elsewhere
        T.StructField("sort_val", T.LongType()),
    ]
)


def _pick(schema: T.StructType, *names: str) -> T.StructType:
    return T.StructType([schema[n] for n in names])


# block rows every live unit carries: a batch's row_type=post and a merge
# output alike
POSTINGS_SCHEMA = _pick(
    STAGING_SCHEMA, "term", "seg", "block_ord", "doc_count", "first_gid",
    "last_gid", "gids", "freqs", "norms", "positions", "off_starts",
    "off_lens", "payloads", "imp_freqs", "imp_norms",
)
# merge output: plus the per-block freq sum, so survivor term stats
# (totalTermFreq) re-derive from merged postings without decoding
MERGED_SCHEMA = T.StructType(
    POSTINGS_SCHEMA.fields + [T.StructField("freq_sum", T.LongType())]
)
# a batch's row_type=term rows and the global terms table
TERMS_SCHEMA = _pick(STAGING_SCHEMA, "term", "doc_freq", "total_term_freq")
TERMS_REV_SCHEMA = T.StructType(
    [T.StructField("rterm", T.StringType())] + TERMS_SCHEMA.fields
)
DOC_SCHEMA = _pick(STAGING_SCHEMA, "seg", "gid", "key", "doc_len", "norm_b", "sort_val")
# per-(doc, extra field) lengths; the term column holds the field name
FDOC_SCHEMA = _pick(STAGING_SCHEMA, "gid", "term", "doc_len")
# delete files (gid) and purged-gid files (gid, doc_len)
GID_SCHEMA = _pick(STAGING_SCHEMA, "gid")
PURGED_SCHEMA = _pick(STAGING_SCHEMA, "gid", "doc_len")


def read_table(spark: SparkSession, index_dir: str, rel_paths, schema: T.StructType) -> DataFrame:
    """One scan over the index tables at ``rel_paths``, schema pinned."""
    return spark.read.schema(schema).parquet(
        *[os.path.join(index_dir, p) for p in rel_paths]
    )


def read_gids(index_dir: str, rel_paths) -> "np.ndarray | None":
    """Sorted unique gids of the given delete / purged-gid files (driver)."""
    if not rel_paths:
        return None
    import pyarrow.dataset as ds

    arrs = [
        ds.dataset(os.path.join(index_dir, p), format="parquet")
        .to_table(columns=["gid"]).column("gid").to_numpy()
        for p in rel_paths
    ]
    return np.unique(np.concatenate(arrs)).astype(np.int64)


@contextmanager
def job_label(spark: SparkSession, label: str):
    """Describe the Spark jobs run inside as ``label``; the previous
    description is restored on exit. Sets a local property only: no job."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def labelled(label: str):
    """Decorate a public ``fn(spark, ...)`` call so every Spark job it runs
    is described as ``label`` (``job_label``)."""
    def wrap(fn):
        @functools.wraps(fn)
        def call(spark, *args, **kwargs):
            with job_label(spark, label):
                return fn(spark, *args, **kwargs)
        return call
    return wrap


def _row_group_ranges(index_dir: str, rel_paths, column: str):
    """Footer min/max of ``column`` for every non-empty row group of the
    parquet tables at ``rel_paths``: (files, [(file index, row group index,
    min, max, uncompressed bytes)]), min and max None where the footer
    holds no statistics."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    files, rows = [], []
    for p in rel_paths:
        for f in ds.dataset(os.path.join(index_dir, p), format="parquet").files:
            md = pq.read_metadata(f)
            col = md.schema.names.index(column)
            for i in range(md.num_row_groups):
                g = md.row_group(i)
                if g.num_rows == 0:
                    continue
                st = g.column(col).statistics
                known = st is not None and st.has_min_max
                rows.append((len(files), i, st.min if known else None,
                             st.max if known else None, g.total_byte_size))
            files.append(f)
    return tuple(files), rows


def _read_row_groups(files, file: np.ndarray, rg: np.ndarray, columns):
    """Arrow tables of the given row groups, one per file, in file order."""
    import pyarrow.parquet as pq

    out = []
    for f in np.unique(file):
        with pq.ParquetFile(files[f]) as pf:
            out.append(pf.read_row_groups(rg[file == f].tolist(), columns=list(columns)))
    return out


@dataclass(frozen=True)
class GidRowGroups:
    """The footer ``gid`` range of every row group of some parquet tables,
    for driver reads of a few rows by gid (the searcher-side
    ``StoredFieldsReader`` analog). Doc rows are written per segment in gid
    order, so the ranges are narrow: a top-k read touches a handful of row
    groups whatever the index size."""

    files: tuple  # absolute parquet file paths
    file: np.ndarray  # per row group: index into files
    rg: np.ndarray  # per row group: its index in the file
    lo: np.ndarray  # per row group: min gid (int64 min when unknown)
    hi: np.ndarray  # per row group: max gid (int64 max when unknown)

    @classmethod
    def load(cls, index_dir: str, rel_paths) -> "GidRowGroups":
        files, rows = _row_group_ranges(index_dir, rel_paths, "gid")
        i64 = np.iinfo(np.int64)
        a = np.array([(f, i, i64.min if lo is None else lo, i64.max if hi is None else hi)
                      for f, i, lo, hi, _ in rows], dtype=np.int64).reshape(-1, 4)
        return cls(files, a[:, 0], a[:, 1], a[:, 2], a[:, 3])

    def holding(self, gids: np.ndarray) -> np.ndarray:
        """Positions of the row groups whose gid range holds one of the
        sorted ``gids``."""
        return np.flatnonzero(
            np.searchsorted(gids, self.hi, side="right")
            > np.searchsorted(gids, self.lo, side="left")
        )

    def read(self, gids, columns) -> pd.DataFrame:
        """``columns`` of the rows whose gid is in ``gids``, read from the
        row groups that can hold them only."""
        import pyarrow as pa

        gids = np.unique(np.asarray(gids, dtype=np.int64))
        hit = self.holding(gids)
        parts = _read_row_groups(self.files, self.file[hit], self.rg[hit], columns)
        if not parts:
            return pd.DataFrame({c: pd.Series([], dtype="int64" if c == "gid" else object)
                                 for c in columns})
        out = pa.concat_tables(parts).to_pandas()
        return out[out["gid"].isin(gids)].reset_index(drop=True)


# a driver read of terms/ row groups (term stats, a bounded expansion) reads
# at most this many uncompressed bytes; a probe whose candidate row groups
# hold more runs as a Spark filter instead. terms/ is hash-partitioned and
# sorted within each file, so at scale every file's row groups span the
# whole term range and footer pruning alone cannot bound the read.
MAX_DRIVER_READ_BYTES = 32 << 20


@dataclass(frozen=True)
class TermDictionary:
    """The footer ``term`` range of every row group of ``terms/``: term
    stats and bounded expansions read on the driver, no Spark job (the
    terms-index seek of ``BlockTreeTermsReader``, at row-group grain).

    ``terms/`` is sorted within each file, so a row group covers a term
    range and a probe reads the ``term, doc_freq, total_term_freq`` columns
    of only the row groups whose range can hold it, one row group at a
    time. A probe whose row groups hold more than ``MAX_DRIVER_READ_BYTES``
    is refused (None) and left to Spark. Terms compare as Python strings,
    which is the code point order and so the UTF-8 byte order of the
    footer statistics."""

    COLUMNS = ("term", "doc_freq", "total_term_freq")

    files: tuple  # absolute parquet file paths
    file: np.ndarray  # per row group: index into files
    rg: np.ndarray  # per row group: its index in the file
    lo: np.ndarray  # per row group: min term (object; "" when unknown)
    hi: np.ndarray  # per row group: max term (object; "" when unknown)
    known: np.ndarray  # per row group: the footer holds min/max
    nbytes: np.ndarray  # per row group: uncompressed bytes

    @classmethod
    def load(cls, index_dir: str, rel_paths=("terms",)) -> "TermDictionary":
        files, rows = _row_group_ranges(index_dir, rel_paths, "term")
        file, rg, lo, hi, nbytes = zip(*rows) if rows else ((),) * 5
        return cls(files, np.array(file, np.int64), np.array(rg, np.int64),
                   np.array([t or "" for t in lo], dtype=object),
                   np.array([t or "" for t in hi], dtype=object),
                   np.array([t is not None for t in lo], dtype=bool),
                   np.array(nbytes, np.int64))

    def _overlapping(self, lo: "str | None", hi: "str | None") -> np.ndarray:
        """Positions of the row groups whose term range meets [lo, hi]
        (None: unbounded), in file then row-group order."""
        ok = np.ones(len(self.rg), dtype=bool)
        if lo is not None:
            ok &= self.hi >= lo
        if hi is not None:
            ok &= self.lo <= hi
        return np.flatnonzero(ok | ~self.known)

    def _each(self, pos: np.ndarray, columns):
        """``columns`` of the row groups at ``pos`` (file then row-group
        order), one Arrow table per row group; None when they hold more
        than ``MAX_DRIVER_READ_BYTES``."""
        import pyarrow.parquet as pq

        if int(self.nbytes[pos].sum()) > MAX_DRIVER_READ_BYTES:
            return None

        def tables():
            for f in dict.fromkeys(self.file[pos].tolist()):
                with pq.ParquetFile(self.files[f]) as pf:
                    for i in self.rg[pos][self.file[pos] == f].tolist():
                        yield pf.read_row_group(i, columns=list(columns))

        return tables()

    def stats(self, terms) -> "dict[str, tuple[int, int]] | None":
        """(doc_freq, total_term_freq) of each of ``terms`` the dictionary
        holds (absent terms are left out); None when the row groups that
        can hold them exceed the driver read cap."""
        import pyarrow as pa
        import pyarrow.compute as pc

        probe = np.array(sorted(set(terms)), dtype=object)
        hit = np.flatnonzero(
            (np.searchsorted(probe, self.hi, side="right")
             > np.searchsorted(probe, self.lo, side="left")) | ~self.known
        ) if len(probe) else np.empty(0, np.int64)
        tables = self._each(hit, self.COLUMNS)
        if tables is None:
            return None
        value_set = pa.array(probe.tolist(), pa.string())
        out = {}
        for t in tables:
            t = t.filter(pc.is_in(t["term"], value_set=value_set))
            out.update((term, (int(df), int(ttf)))
                       for term, df, ttf in zip(*(t[c].to_pylist() for c in self.COLUMNS)))
        return out

    def expand(self, node, limit: int) -> "list[str] | None":
        """Sorted terms a ``PrefixQ`` or ``RangeQ`` matches, cut at
        ``limit + 1`` (more than ``limit`` match: which ones is unspecified):
        row groups are read one at a time, each one's matches truncated to
        the remaining budget, and the read stops once ``limit + 1`` are
        found. None when the candidate row groups exceed the driver read
        cap. A pattern that names no field matches default-field terms
        only, as ``Searcher.matched_terms_df`` does."""
        import pyarrow.compute as pc

        from ..plans.query import PrefixQ

        term = pc.field("term")
        if isinstance(node, PrefixQ):
            probe = node.prefix
            pos = self._overlapping(probe, None)
            # a row group whose first term sorts past every term with the
            # prefix holds none of them
            first = self.lo[pos]
            pos = pos[~self.known[pos] | (first <= probe)
                      | np.array([t.startswith(probe) for t in first], dtype=bool)]
            match = pc.starts_with(term, probe)
        else:
            probe = (node.lo or "") + (node.hi or "")
            pos = self._overlapping(node.lo, node.hi)
            match = pc.scalar(True)
            if node.lo is not None:
                match &= term >= node.lo if node.include_lo else term > node.lo
            if node.hi is not None:
                match &= term <= node.hi if node.include_hi else term < node.hi
        if FIELD_SEP not in probe:
            match &= ~pc.match_substring(term, FIELD_SEP)
        tables = self._each(pos, ["term"])
        if tables is None:
            return None
        found: list = []
        for t in tables:
            found += t.filter(match)["term"].slice(0, limit + 1 - len(found)).to_pylist()
            if len(found) > limit:
                break
        return sorted(found)


def batch_path(batch: int, row_type: "str | None" = None) -> str:
    path = os.path.join("segments", f"batch={int(batch)}")
    return path if row_type is None else os.path.join(path, f"row_type={row_type}")


def read_segstats(path: str) -> pd.DataFrame:
    """Driver-side read of a batch dir's tiny segstat rows (one per segment)."""
    import pyarrow.dataset as ds

    cols = ["seg", "s_n_docs", "s_doc_count", "s_sum_dl", "s_max_gid", "s_n_terms", "s_n_postings"]
    return (ds.dataset(os.path.join(path, "row_type=segstat"), format="parquet")
            .to_table(columns=cols).to_pandas())


def _read_fieldstats(path: str) -> pd.DataFrame:
    """Driver-side read of a batch dir's per-(segment, field) stat rows."""
    import pyarrow.dataset as ds

    return (ds.dataset(os.path.join(path, "row_type=fieldstat"), format="parquet")
            .to_table(columns=["term", "s_doc_count", "s_sum_dl"]).to_pandas())


# ------------------------------------------------------------------ manifest


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.jsonl")


def read_manifest(index_dir: str) -> list[dict]:
    path = _manifest_path(index_dir)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def append_manifest(index_dir: str, record: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    with open(_manifest_path(index_dir), "a") as f:
        f.write(json.dumps(record) + "\n")
        f.flush()
        os.fsync(f.fileno())


def write_stats(index_dir: str, stats: dict) -> None:
    """Replace ``stats.json`` atomically (temp file + fsync + rename)."""
    path = os.path.join(index_dir, "stats.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _sum_into(into: dict, add: dict) -> None:
    for k, v in add.items():
        into[k] = into.get(k, 0) + int(v)


@dataclass(frozen=True)
class Commit:
    """One point-in-time view of an index: its committed records and stats."""

    index_dir: str
    batches: dict  # batch id -> committed batch record, commit order
    merges: dict  # uid "m<K>" -> committed merge record, commit order
    delete_paths: tuple  # committed delete files (rel paths), commit order
    append_jobs: tuple
    stats: "dict | None"  # None until the first finalize

    @classmethod
    def load(cls, index_dir: str) -> "Commit":
        stats = None
        stats_path = os.path.join(index_dir, "stats.json")
        if os.path.exists(stats_path):
            with open(stats_path) as f:
                stats = json.load(f)
            if stats.get("format") != FORMAT_VERSION:
                raise ValueError(
                    f"{index_dir} has index format {stats.get('format')}; this "
                    f"code reads format {FORMAT_VERSION} only — rebuild the index"
                )
        batches, merges, deletes, jobs = {}, {}, [], []
        for r in read_manifest(index_dir):
            kind = r.get("type")
            if kind == "append_job":
                jobs.append(r)
            elif r.get("status") != "committed":
                continue
            elif kind == "merge":
                merges[f"m{r['merge_id']}"] = r
            elif kind == "delete":
                deletes.append(r["path"])
            elif r.get("batch") is not None:
                batches[r["batch"]] = r
        return cls(index_dir, batches, merges, tuple(deletes), tuple(jobs), stats)

    @cached_property
    def live_units(self) -> "list[dict]":
        """Live merge units with sizes: [{uid, path, n_postings}], batches
        first, each in commit order."""
        consumed = {u for r in self.merges.values() for u in r["inputs"]}
        units = [
            {
                "uid": f"b{b}",
                "path": batch_path(b, "post"),
                "n_postings": sum(int(s["n_postings"]) for s in r["per_segment"].values()),
            }
            for b, r in self.batches.items() if f"b{b}" not in consumed
        ]
        units += [
            {"uid": uid, "path": r["out"], "n_postings": int(r["n_postings"])}
            for uid, r in self.merges.items() if uid not in consumed
        ]
        return units

    def _chain(self, uids):
        """The given unit ids and, transitively, every merge input."""
        for uid in uids:
            yield uid
            if uid in self.merges:
                yield from self._chain(self.merges[uid]["inputs"])

    def covered_batches(self, units) -> "list[int]":
        """Batches the units cover, transitively through merge inputs."""
        return sorted(int(u[1:]) for u in self._chain(x["uid"] for x in units)
                      if u.startswith("b"))

    def purged_gid_paths(self, units) -> "list[str]":
        """purged_gids files of every purging merge in the units' input
        chains: the docs those merges already reclaimed."""
        return [self.merges[u]["purged_gids"]
                for u in self._chain(x["uid"] for x in units)
                if u in self.merges and self.merges[u]["purged_gids"]]

    def unit_doc_stats(self, unit: dict) -> dict:
        """{n_rows, doc_count, sum_dl} one live unit contributes: a batch's
        segstat rows, a merge's recorded sum (minus what it purged)."""
        if unit["uid"] in self.merges:
            return dict(self.merges[unit["uid"]]["unit_doc_stats"])
        seg = read_segstats(os.path.join(self.index_dir, batch_path(int(unit["uid"][1:]))))
        return {
            "n_rows": int(seg["s_n_docs"].sum()),
            "doc_count": int(seg["s_doc_count"].sum()),
            "sum_dl": int(seg["s_sum_dl"].sum()),
        }

    def unit_field_stats(self, unit: dict) -> "dict[str, dict]":
        """{field: {doc_count, sum_ttf}} one live unit contributes."""
        if unit["uid"] in self.merges:
            fs = self.merges[unit["uid"]]["unit_field_stats"]
            return {str(k): dict(v) for k, v in fs.items()}
        fagg = _read_fieldstats(os.path.join(self.index_dir, batch_path(int(unit["uid"][1:]))))
        return {
            str(field): {
                "doc_count": int(grp["s_doc_count"].sum()),
                "sum_ttf": int(grp["s_sum_dl"].sum()),
            }
            for field, grp in fagg.groupby("term")
        }

    def doc_stats(self, units) -> dict:
        out = {"n_rows": 0, "doc_count": 0, "sum_dl": 0}
        for u in units:
            _sum_into(out, self.unit_doc_stats(u))
        return out

    def field_stats(self, units) -> "dict[str, dict]":
        out: dict = {}
        for u in units:
            for f, s in self.unit_field_stats(u).items():
                _sum_into(out.setdefault(f, {}), s)
        return out

    def max_gid(self) -> int:
        return max(
            (int(read_segstats(os.path.join(self.index_dir, batch_path(b)))["s_max_gid"].max())
             for b in self.batches),
            default=-1,
        )

    def doc_paths(self) -> "list[str]":
        """Doc rows of every committed batch (merges leave them in place)."""
        return [batch_path(b, "doc") for b in self.batches]

    def fdoc_paths(self, batches) -> "list[str]":
        """The batches' extra-field length rows (multi-field indexes only)."""
        return [p for p in (batch_path(b, "fdoc") for b in batches)
                if os.path.isdir(os.path.join(self.index_dir, p))]

    @property
    def next_merge_id(self) -> int:
        return 1 + max((int(r["merge_id"]) for r in self.merges.values()), default=-1)

    @property
    def next_delete_path(self) -> str:
        return os.path.join("deletes", f"del_{len(self.delete_paths)}")

    @property
    def segments(self) -> "list[int]":
        return sorted({int(s) for r in self.batches.values() for s in r["per_segment"]})
