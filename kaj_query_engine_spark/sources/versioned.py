"""A minimal versioned parquet table with O(Δ) commits: manifest-based
snapshots, snapshot-isolated atomic commits, and time travel over a
plain directory.

This exists to give the streaming maintenance family (q85–q87, q89) a
transactional target without a table-format dependency: real
deployments put a Delta/Iceberg table here. The mechanism is the same
idea those formats implement with a commit log, reduced to what a
single-writer maintenance job needs:

- **A version is a MANIFEST, not a directory of rewritten data.**
  Every version ``N`` is a JSON file listing the immutable data files
  that make up that snapshot. New data files land under a
  token-unique attempt directory ``data/c{N}-{token}/``; the manifest
  may also carry forward files written by
  earlier commits, byte-identical — never copied, never rewritten.
  That is what makes incremental commits O(Δ):

  * :meth:`commit` — full snapshot (the manifest references only the
    new files). Used for init and compaction.
  * :meth:`commit_append` — writes ONLY the delta's files; the
    manifest is ``previous.files + delta.files``. Per-batch bytes
    written scale with \\|Δ\\|, not \\|table\\| (pinned by a
    counted-bytes test and a 64×-view probe).
  * :meth:`commit_keyed` — for a table bucketed on its key
    (``init(..., bucket_keys=...)``, data files hash-partitioned into
    ``_kb=K/`` directories): rewrites only the FILES that can contain
    a touched key; every other file — in untouched buckets AND in
    touched buckets — is carried forward byte-identical (mtime-
    pinned). The streaming twin of the touched-partition MERGE
    (:func:`~kaj_query_engine_spark.operators.maintenance.merge_into_partitioned`).

- **The rewrite unit is a FILE of bounded size, not a bucket** (the
  round-9 review's one remaining 100× edge). Two mechanisms compose,
  both standard table-format practice (Iceberg per-file column bounds
  in manifests; Delta file statistics + OPTIMIZE target size):

  * every bucketed data file stores the key hash as a physical
    ``_kh = xxhash64(keys...)`` column (never in the read schema —
    reads select the manifest's recorded columns, so the parquet
    scan prunes it for free), and the manifest records each file's
    ``khr = [min, max]`` of that column straight from the parquet
    footer — metadata-only, no data read. ONE selection,
    ``_touched_files``, decides which files a keyed batch touches:
    ``commit_keyed`` rewrites exactly the files it picks and
    :meth:`read_buckets` reads exactly those same files. A file whose
    range provably misses every touched key is carried forward even
    when its bucket is touched. Append "stray" files record ``khr``
    too, so a keyed commit skips strays that cannot hold its keys
    instead of re-writing them.
  * large writes hash-range SUB-SPLIT each bucket (a ``_ks`` partition
    directory from the hash's top bits) so no file much exceeds
    ``target_file_rows``; with files bounded and range-pruned, a
    keyed commit's rewrite cost is O(touched files · target size)
    regardless of table growth under a FIXED bucket count — the
    probe pins bytes-written flat across 64× view growth at
    ``n_buckets=8``.

  ``n_buckets`` itself is versioned PER MANIFEST (Iceberg's
  partition-spec-evolution rule): old versions stay time-travelable
  under the spec they were written with, and a crashed spec change
  leaves the table on the old spec because the spec rides in the
  manifest whose atomic creation IS the commit. The spec evolves
  LAZILY (the real formats' rule): :meth:`start_rebucket` is a
  metadata-only commit that retargets future writes and tags every
  existing file with the spec its bucket id was written under (``nb``
  per manifest entry); reads and keyed commits prune each file under
  ITS OWN spec throughout, keyed traffic migrates its touched files
  organically, and :meth:`rebucket_step` moves a bounded chunk of
  old-spec buckets per resumable commit until :meth:`migration`
  reports none pending.

- **Readers never see a torn table.** Data files are written
  completely, THEN the version manifest is hard-linked into place —
  an atomic create-exclusive that IS the commit point (round 12; the
  Delta transaction-log rule: version N belongs to whichever writer
  creates the N-th log file first). A concurrent reader resolves
  :meth:`current_version` once and reads immutable files. A crash
  mid-commit before the manifest lands leaves the table at the
  previous version with the attempt's orphan data directory
  unreferenced by any manifest (reclaimed by :meth:`vacuum`'s
  reference-count GC); a crash AFTER the manifest lands is a
  completed commit — ``current_version`` probes forward past a stale
  ``_CURRENT`` hint, and the recorded applied-batch id travels with
  the manifest, so streaming re-deliveries still dedupe.
- **Single writer, guarded.** Streaming ``foreachBatch`` delivers
  batches serially, which is exactly this model; multi-writer
  OPTIMISTIC RETRY (losers re-basing onto the winner's version) is a
  table-format concern, out of scope here. But a MISCONFIGURED second
  writer fails loudly in EVERY interleaving, with the winner's commit
  intact: each attempt writes its data into its own token-unique
  directory (a losing writer can never touch — let alone delete —
  files a rival wrote for the same version number), and the
  create-exclusive manifest link means exactly one attempt can own a
  version; the loser raises :class:`ConcurrentWriterError` with
  nothing overwritten and nothing torn.

Time travel falls out for free: every committed version stays readable
until vacuumed. :meth:`vacuum` garbage-collects by reference count
over the surviving manifests — a data file shared by ten manifests
dies only when the last of them is dropped (the Iceberg
expire-snapshots rule).

Reads use the manifest's recorded schema explicitly, so a schema-
evolved table reads old files with the new schema (missing columns
NULL) — the same read-path contract as mergeSchema'd parquet tables.

The bucket column ``_kb = pmod(xxhash64(keys...), n_buckets)`` exists
only in directory names, never in the data or the read schema; the
sub-split column ``_ks`` likewise. The key-hash column ``_kh`` exists
in bucketed data files but never in a manifest schema, so no read
path ever surfaces it.

Version metadata is TWO-LEVEL (round 11 — this closed the module's
last stated stand-in boundary, "one JSON document per version,
O(live files) per load"): the per-version manifest holds commit
metadata plus one SHARD ENTRY per (bucket, spec) file group, each
naming a content-addressed shard JSON that holds the group's file
entries — Iceberg's manifest-list/manifest-file split, reduced.
Untouched groups carry across commits as references (the shard file
is shared, never re-read or re-written), so keyed commits, appends,
and migration steps pay O(touched shards) metadata. The honest bound
of a TOUCHED shard: a keyed commit rewrites the whole shard JSON of
each touched bucket, so its metadata cost is O(that bucket's file
list) — which grows ~linearly with the table under a FIXED
n_buckets (probe ``versioned_commit_bytes_fixed_delta``,
``keyed_meta_bytes`` 2.1 → 13.8 KB across 64× table growth at
n_buckets=8, e=0.83 at the 16→64× bracket — sub-linear approaching
the linear shape as entry overhead washes out; appends stay FLAT at
28.5 KB, e=−0.0). The deployment mitigation is evolving n_buckets
with the table — exactly what the lazy :meth:`start_rebucket` path
makes cheap — which re-bounds every bucket's file list and with it
the keyed-commit metadata unit. Round 13 closes the trigger loop:
:meth:`suggest_rebucket` is the advisory an operator polls — it
fires when the current version's mean files-per-bucket exceeds a
threshold (default 8, read from shard-entry ``n_files`` alone) and
returns the power-of-two-multiple bucket count that restores the
bound, i.e. the old spec always divides the suggestion, the exact
shape the gcd-aware :meth:`rebucket_step` sizing migrates in bounded
chunks. Measured on the probe's own growth table
(``versioned_commit_bytes_fixed_delta``): quiet at 1×/4×/16× and
fires 8→16 at the 64× point where keyed metadata read 13.8 KB —
the trigger lands exactly where the curve does. Selective readers
(:meth:`read_buckets` and :meth:`commit_keyed`, through their shared
selection) parse only the shards whose bucket can hold a touched key,
:meth:`migration` parses none, and :meth:`vacuum` reference-counts
shard files exactly like data files. Whole-table consumers see the
merged flat view through :meth:`manifest`, unchanged.

Every bucketed manifest is sharded; unbucketed tables keep one flat
inline ``files`` list, their only format.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from pathlib import Path

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kaj_query_engine_spark.session import broadcast_threshold_bytes


class TouchedInfo(NamedTuple):
    """Everything a keyed read/commit needs to know about a touched-key
    frame, from ONE capped driver collect (hash, count per distinct
    key): the sorted hash list drives file pruning, the per-spec
    bucket sets drive bucket pruning, n_rows drives the broadcast-size
    decision, and n_rows == 0 is the no-op short-circuit. The
    foreachBatch apply fns compute it once per batch and pass it to
    both :meth:`VersionedTable.read_buckets` and
    :meth:`VersionedTable.commit_keyed`, so the batch pays one driver
    job, not one per call, and both select the same files from it."""

    hashes: list[int] | None  # sorted distinct key hashes; None past cap
    n_rows: int | None  # distinct touched rows; None past cap
    n_buckets: int  # the manifest's current bucket spec
    # touched bucket ids per spec present in the manifest: the current
    # spec plus any old spec a lazy rebucket has not yet migrated. A
    # spec missing here is not bucket-pruned (correct, conservative).
    buckets: dict[int, set]


class ConcurrentWriterError(RuntimeError):
    """A second writer committed while this commit was in flight. The
    table model is single-writer (streaming foreachBatch delivers
    batches serially); this guard makes a misconfigured second writer
    fail LOUDLY instead of silently dropping its rival's version.
    Since round 12 the guard is race-free, not merely CAS-shaped: the
    commit point is an atomic create-EXCLUSIVE hard link of the
    version manifest (the Delta transaction-log rule), so exactly one
    attempt can ever own a version — there is no interleaving in
    which a commit is overwritten, torn, or silently dropped; the
    loser always raises. What stays out of scope is optimistic RETRY
    (re-basing the loser onto the winner's version), which is where a
    real multi-writer deployment uses a full table format. The
    loser's DATA can never hurt the winner either: every attempt
    writes into its own token-unique ``data/c{N}-{token}`` directory,
    so no code path deletes or overwrites files another attempt
    produced (round-11 advice: the old shared ``data/c{N}`` directory
    was rmtree'd per attempt, so a loser could delete a
    just-published winner's live data before its own CAS failed)."""


_POINTER = "_CURRENT"
_META = "_TABLE.json"
_KB = "_kb"
_KS = "_ks"  # hash-range sub-split partition dir (top bits of _kh)
_KH = "_kh"  # physical key-hash column inside bucketed data files

# Bound on any single file's rows at write time (the rewrite unit a
# keyed commit pays per touched file). Rows, not bytes, so the split
# factor is computable from recorded metadata without sampling; a
# byte-targeting deployment derives it as target_bytes/avg_row_bytes.
DEFAULT_TARGET_FILE_ROWS = 65_536

# Touched-key count above which FILE-level pruning is skipped (bucket
# pruning always runs — its collect is bounded by n_buckets): a delta
# touching this many keys touches essentially every target-sized file
# of its buckets anyway, so collecting the hash list would cost driver
# time to prune nothing.
_FILE_PRUNE_KEYS = 16_384


def _next_pow2(x: int) -> int:
    n = 1
    while n < x:
        n <<= 1
    return n


def _broadcast_key_cap(spark: SparkSession) -> int:
    """How many distinct touched keys may ride a broadcast join,
    derived from the session's own autoBroadcastJoinThreshold at a
    conservative ~64 bytes/key row. Broadcast disabled → 0."""
    nbytes = broadcast_threshold_bytes(spark)
    if nbytes <= 0:
        return 0
    return max(1_000, nbytes // 64)


# Files at or under this many rows record their EXACT distinct key
# hashes in the manifest instead of only a range: a hash range over
# more than a handful of random 64-bit hashes spans nearly the whole
# space (hashing destroys key locality), so ranges only prune the
# sub-split files they were written for — exact lists make SMALL files
# (append strays, tiny rewrites) prunable too, at a bounded manifest
# cost (≤ ~20 KB of JSON per qualifying file). The same idea as a
# per-file bloom/dictionary filter in real formats, in its minimal
# exact form.
_KHS_EXACT_CAP = 1024


def _parquet_kh_stats(
    p: Path,
) -> tuple[int | None, list[int] | None, list[int] | None]:
    """(num_rows, [kh_min, kh_max], exact-hash list) from a parquet
    FOOTER — metadata-only except for files at/under _KHS_EXACT_CAP
    rows, whose single ``_kh`` column is read to record the exact
    list. None range when the file carries no ``_kh`` column
    (an append delta without the key columns) or a row group lacks
    min/max stats; such files are simply never pruned."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(str(p))
        md = pf.metadata
    except Exception:
        return None, None, None
    rows = md.num_rows
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    if _KH not in names:
        return rows, None, None
    khs = None
    if rows <= _KHS_EXACT_CAP:
        try:
            col = pf.read(columns=[_KH]).column(_KH).to_pylist()
            khs = sorted({int(h) for h in col if h is not None})
        except Exception:
            khs = None
    j = names.index(_KH)
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(j).statistics
        if st is None or not st.has_min_max:
            return rows, None, khs
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    if lo is None:  # zero row groups: empty file
        return rows, None, khs
    return rows, [int(lo), int(hi)], khs


def _khr_hits(
    files: list[dict],
    hashes: list[int] | None,
    file_nbs: list[int | None],
) -> list[bool]:
    """Per-file: could this file contain any touched key hash? A hash
    is only tested against files of ITS OWN bucket UNDER ITS OWN SPEC
    (``file_nbs`` — per-file, because a lazy rebucket leaves files on
    the old spec until migrated; every bucket spans the full hash
    space, so cross-bucket range tests are always-true noise);
    kb=None strays test against all hashes. Exact-list files test
    membership, range files test overlap — binary search either way,
    O(F log H) with one O(H) hash grouping per distinct spec (at most
    two mid-migration). ``hashes=None`` (over-cap collect) disables
    pruning: every file might match."""
    if hashes is None:
        return [True] * len(files)
    import bisect

    all_sorted = sorted(hashes)
    grouped: dict[int, dict[int, list[int]]] = {}

    def by_kb(spec: int) -> dict[int, list[int]]:
        if spec not in grouped:
            d: dict[int, list[int]] = {}
            for h in all_sorted:
                d.setdefault(h % spec, []).append(h)
            grouped[spec] = d
        return grouped[spec]

    out = []
    for f, fnb in zip(files, file_nbs):
        kb = f.get("kb")
        hs = (
            all_sorted
            if kb is None or not fnb
            else by_kb(fnb).get(kb, [])
        )
        khs = f.get("khs")
        if khs is not None:
            # iterate the BOUNDED side (khs ≤ _KHS_EXACT_CAP), bisect
            # into the touched list: O(cap · log H) per file
            out.append(
                any(
                    (i := bisect.bisect_left(hs, k)) < len(hs)
                    and hs[i] == k
                    for k in khs
                )
            )
            continue
        khr = f.get("khr")
        if khr is None:
            out.append(True)
            continue
        i = bisect.bisect_left(hs, khr[0])
        out.append(i < len(hs) and hs[i] <= khr[1])
    return out


class VersionedTable:
    def __init__(self, path: str | os.PathLike):
        self.path = Path(path)
        self._meta_cache: dict | None = None

    # ---- table meta (bucket spec) -----------------------------------
    def _meta(self) -> dict:
        if self._meta_cache is None:
            try:
                self._meta_cache = json.loads(
                    (self.path / _META).read_text()
                )
            except (OSError, ValueError):
                self._meta_cache = {}
        return self._meta_cache

    @property
    def bucket_keys(self) -> list[str] | None:
        return self._meta().get("bucket_keys")

    @property
    def n_buckets(self) -> int | None:
        """The CURRENT version's bucket count: the spec is versioned
        per manifest (``start_rebucket`` evolves it; old manifests keep the
        spec their files were written under), falling back to the
        init-time table meta for manifests predating spec recording."""
        return self._n_buckets_at(None)

    def _n_buckets_at(self, man: dict | None) -> int | None:
        if not self.is_bucketed:
            return None
        if man is None:
            try:
                man = self._manifest_lite()
            except ValueError:
                man = {}
        return man.get("n_buckets") or self._meta().get("n_buckets")

    @staticmethod
    def _file_nb(f: dict, man_nb: int | None) -> int | None:
        """The bucket spec a file's ``kb`` was written under: the
        per-file ``nb`` tag when present (``start_rebucket`` pins it
        on every pre-migration file so a lazy spec evolution leaves
        them readable AND prunable under their own spec), else the
        manifest's spec. Strays (kb=None) have no spec."""
        if f.get("kb") is None:
            return None
        return f.get("nb") or man_nb

    @property
    def target_file_rows(self) -> int:
        return self._meta().get("target_file_rows") or DEFAULT_TARGET_FILE_ROWS

    @property
    def is_bucketed(self) -> bool:
        return self.bucket_keys is not None

    @property
    def has_change_feed(self) -> bool:
        return bool(self._meta().get("change_feed"))

    def _kh_expr(self) -> Column:
        return F.xxhash64(*[F.col(k) for k in self.bucket_keys])

    def _kb_expr(self, n_buckets: int | None = None) -> Column:
        n = n_buckets if n_buckets is not None else self.n_buckets
        return F.pmod(self._kh_expr(), F.lit(n))

    def _sub_bits_for(self, bucket_rows: float) -> int:
        """log2 of the hash-range split factor that keeps files near
        ``target_file_rows``: files land in (target/2, target] rows,
        so the keyed-rewrite unit stays ~constant as the table grows."""
        s = _next_pow2(max(1, -(-int(bucket_rows) // self.target_file_rows)))
        return s.bit_length() - 1

    def _cast_keys(self, df: DataFrame, schema: StructType) -> DataFrame:
        """Align a key frame's column types with the stored schema
        BEFORE hashing or joining: ``xxhash64`` is type-sensitive (an
        int 5 and a long 5 hash differently), so an int-typed key frame
        against a long-keyed table would silently select the wrong
        buckets — rows carried forward un-deleted, updates treated as
        inserts, no error anywhere."""
        types = {f.name: f.dataType for f in schema.fields}
        return df.select(*[
            F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
            for c in df.columns
        ])

    # ---- pointer ----------------------------------------------------
    def current_version(self) -> int | None:
        """The newest COMMITTED version. Since round 12 the commit
        point is the exclusive creation of the version manifest (see
        :meth:`_write_manifest`), so the authoritative answer is "the
        highest ``v{N}.json`` on disk"; the ``_CURRENT`` file is only
        a hint that lets this skip the directory scan — versions are
        consecutive by construction, so probing forward from the hint
        costs one extra ``exists()`` in the steady state and still
        discovers a commit whose writer crashed before refreshing the
        hint."""
        try:
            v = int((self.path / _POINTER).read_text())
        except (OSError, ValueError):
            vs = self.versions()
            return vs[-1] if vs else None
        while self._manifest_path(v + 1).exists():
            v += 1
        return v

    def _swap_pointer(self, version: int) -> None:
        """Refresh the ``_CURRENT`` hint after a commit. NOT the
        commit point (that is :meth:`_write_manifest`'s exclusive
        manifest creation — the Delta-log rule: version N belongs to
        whichever writer creates the N-th log file first); a crash
        between the manifest landing and this write is benign because
        :meth:`current_version` probes forward past a stale hint."""
        tmp = self.path / f"{_POINTER}.tmp"
        tmp.write_text(str(version))
        os.replace(tmp, self.path / _POINTER)  # atomic

    # ---- manifests --------------------------------------------------
    #
    # Bucketed tables use TWO-LEVEL metadata (round 11 — the last
    # documented stand-in boundary, "version metadata is one
    # driver-parsed JSON, O(live files) per load", closed): the
    # version manifest holds commit metadata plus a list of SHARD
    # ENTRIES — one per (bucket, spec) group of files, each naming a
    # content-addressed shard JSON under ``shards/`` that holds that
    # group's file entries. Iceberg's manifest-list/manifest-file
    # split, reduced:
    #
    # * shards are IMMUTABLE and content-addressed (sha256 of the
    #   canonical file list), so a commit re-writes only the shards
    #   whose group actually changed — an untouched bucket's shard is
    #   carried into the new manifest as a reference, byte-identical,
    #   with ZERO metadata read or written for it. Keyed commits,
    #   appends, and migration steps pay O(touched shards) metadata,
    #   not O(live files).
    # * selective readers (commit_keyed / read_buckets / migration)
    #   work from the shard entries' recorded (kb, nb, n_files, bytes)
    #   summaries and load only the shards whose bucket can hold a
    #   touched key; full readers (:meth:`manifest`) merge every shard
    #   transparently, so all whole-table consumers see the flat
    #   ``files`` view unchanged.
    # * a shard entry's ``nb`` tag IS the spec of its files (injected
    #   into each file entry on load), which makes
    #   :meth:`start_rebucket` literally metadata-only: it rewrites
    #   the small manifest with re-tagged shard entries and never
    #   touches a shard file.
    # * two entries may share a (kb, nb) group (e.g. a migration step
    #   scattering into a bucket that already held organically-
    #   migrated files): the merged view is a concatenation — files
    #   are a set — and the next rewrite of that bucket folds them
    #   into one shard.
    #
    # Unbucketed tables keep the flat inline ``files`` list (nothing
    # prunes them); :meth:`manifest`, :meth:`vacuum` and
    # :meth:`commit_append` read it directly.

    def _manifest_path(self, version: int) -> Path:
        return self.path / f"v{version}.json"

    def _manifest_lite(self, version: int | None = None) -> dict:
        """The version manifest WITHOUT merging shard contents —
        commit metadata + shard entries only. O(shard entries), not
        O(files); selective readers start here."""
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"uninitialized versioned table: {self.path}")
        p = self._manifest_path(v)
        if not p.exists():
            raise ValueError(f"version {v} not found (vacuumed?): {self.path}")
        return json.loads(p.read_text())

    def _load_shard(self, entry: dict) -> list[dict]:
        """A shard's file entries, with the entry's bucket id and spec
        tag injected per file (the shard entry is the one source of
        truth for both — shard contents never repeat them)."""
        files = json.loads((self.path / entry["path"]).read_text())["files"]
        for f in files:
            f["kb"] = entry.get("kb")
            if entry.get("nb") is not None:
                f["nb"] = entry["nb"]
        return files

    def manifest(self, version: int | None = None) -> dict:
        """The full manifest with the flat ``files`` view — sharded
        manifests merge every shard (whole-table consumers: reads,
        vacuum, history, compaction)."""
        man = self._manifest_lite(version)
        if "files" not in man:
            files: list[dict] = []
            for entry in man.get("shards", []):
                files.extend(self._load_shard(entry))
            man["files"] = files
        return man

    def _write_manifest(
        self,
        version: int,
        files: list[dict],
        schema: StructType,
        batch_id: int | None,
        cdf: dict | None = None,
        n_buckets: int | None = None,
        keyed: dict | None = None,
        expect=None,
        carry_shards: list[dict] | None = None,
    ) -> None:
        """This is the COMMIT POINT (round 12 — previously the pointer
        swap, which left a tiny manifest-overwrite window between the
        CAS check and the swap): the manifest is hard-LINKED into
        place, an atomic create-exclusive on POSIX, so version N
        belongs to whichever writer creates ``v{N}.json`` first — the
        Delta transaction-log rule, reduced. A rival attempting the
        same version finds the link target taken and raises
        :class:`ConcurrentWriterError` with nothing overwritten and
        nothing torn, in EVERY interleaving; no last-write-wins window
        remains. ``expect`` (the version the commit read at start;
        None from init) is still CAS-checked first for a cheaper,
        earlier failure when the rival already finished.

        Bucketed tables shard ``files`` by (bucket, spec) into
        content-addressed shard JSONs (see the section comment);
        ``carry_shards`` are PRIOR shard entries referenced verbatim —
        the untouched-metadata half of a selective commit."""
        if expect != (got := self.current_version()):
            raise ConcurrentWriterError(
                f"{self.path}: version moved from {expect} to {got} "
                f"while committing version {version} — a second "
                "writer is active on this single-writer table"
            )
        man = {
            "version": version,
            "applied_batch": batch_id,
            "schema": json.loads(schema.json()),
        }
        if self.is_bucketed:
            man["shards"] = list(carry_shards or []) + self._write_shards(
                files
            )
        else:
            man["files"] = files
        if n_buckets is not None:
            # the bucket spec this version's files were written under —
            # versioned per manifest so start_rebucket can evolve it while
            # older versions stay readable/prunable under their own
            man["n_buckets"] = n_buckets
        if keyed is not None:
            # keyed-commit audit record: which pruning granularity ran
            # (file vs bucket — past _FILE_PRUNE_KEYS the hash list is
            # not collected and pruning silently degrades; this makes
            # the degradation VISIBLE to history()/invariants, round-10
            # advice) and the rewrite/carry split it produced
            man["keyed"] = keyed
        if cdf is not None:
            man["cdf"] = cdf
        # attempt-unique tmp (rivals must not overwrite each other's
        # half-written tmp), then an atomic create-EXCLUSIVE link: the
        # first attempt to link v{version}.json wins the version
        import uuid

        tmp = self.path / f"v{version}.json.tmp.{uuid.uuid4().hex[:8]}"
        tmp.write_text(json.dumps(man))
        try:
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            raise ConcurrentWriterError(
                f"{self.path}: version {version} was committed by a "
                "second writer while this commit was in flight — "
                "single-writer table, nothing overwritten"
            ) from None
        except FileNotFoundError:
            # our attempt-unique tmp vanished before the link: only
            # vacuum's tmp-manifest GC unlinks those, and it reclaims a
            # tmp ONLY when its version is <= current — i.e. version N
            # was necessarily decided (committed by a rival) while this
            # attempt was in flight. Same outcome as FileExistsError,
            # same clean contract: nothing overwritten, nothing torn.
            raise ConcurrentWriterError(
                f"{self.path}: version {version} was committed by a "
                "second writer while this commit was in flight (the "
                "attempt tmp was already reclaimed by vacuum) — "
                "single-writer table, nothing overwritten"
            ) from None
        finally:
            tmp.unlink(missing_ok=True)

    def _write_shards(self, files: list[dict]) -> list[dict]:
        """Group ``files`` by (bucket, spec), write one content-
        addressed shard JSON per group (skipped when the identical
        content already exists — the reuse that makes untouched-group
        metadata free), and return the shard entries. Shard contents
        strip the per-file kb/nb (the entry carries them); file lists
        sort by path so identical groups hash identically across
        commits regardless of discovery order."""
        import hashlib

        groups: dict[tuple, list[dict]] = {}
        for f in files:
            groups.setdefault((f.get("kb"), f.get("nb")), []).append(f)
        sdir = self.path / "shards"
        entries: list[dict] = []
        for (kb, nb), fl in sorted(
            groups.items(),
            key=lambda kv: (
                kv[0][0] is None, kv[0][0] or 0, kv[0][1] or 0,
            ),
        ):
            content = [
                {k: v for k, v in f.items() if k not in ("kb", "nb")}
                for f in sorted(fl, key=lambda f: f["path"])
            ]
            payload = json.dumps({"files": content}, sort_keys=True)
            digest = hashlib.sha256(payload.encode()).hexdigest()[:24]
            rel = f"shards/{digest}.json"
            p = self.path / rel
            if not p.exists():
                sdir.mkdir(exist_ok=True)
                tmp = sdir / f"{digest}.json.tmp"
                tmp.write_text(payload)
                os.replace(tmp, p)
            rows: int | None = 0
            for f in fl:
                r = f.get("rows")
                rows = None if (rows is None or r is None) else rows + r
            entry = {
                "path": rel,
                "kb": kb,
                "n_files": len(fl),
                "bytes": sum(f["bytes"] for f in fl),
                "rows": rows,
            }
            if nb is not None:
                entry["nb"] = nb
            entries.append(entry)
        return entries

    # ---- data writes ------------------------------------------------
    def _attempt_dirname(self, version: int) -> str:
        """A fresh data directory name for ONE commit attempt of
        ``version``: ``c{version}-{token}``. Token-unique per attempt,
        so a losing concurrent writer (or a crashed retry) can never
        touch files another attempt wrote — the create-exclusive
        commit point in :meth:`_write_manifest` then fails the loser
        with the winner's committed data fully intact (round-11
        advice: the old shared ``c{version}`` directory was rmtree'd
        per attempt, which let a loser delete a published rival's
        data). Orphan directories from failed attempts are
        unreferenced by construction and reclaimed by :meth:`vacuum`'s
        reference-count GC."""
        import uuid

        while True:
            name = f"c{version}-{uuid.uuid4().hex[:8]}"
            if not (self.path / "data" / name).exists():
                return name

    @staticmethod
    def _written_by(path: str, version: int) -> bool:
        """True when a manifest-relative file path was written by a
        commit attempt of ``version`` (``data/c{v}-{token}/...``)."""
        return path.startswith(f"data/c{version}-")

    def _write_data(
        self,
        df: DataFrame,
        version: int,
        bucketed: bool | None = None,
        n_buckets: int | None = None,
        sub_bits: int = 0,
        attempt_dir: str | None = None,
    ) -> list[dict]:
        """Write ``df``'s rows as this commit's data files under
        a token-unique ``data/c{version}-{token}`` attempt directory
        (``attempt_dir`` lets a caller that writes side files — keyed
        commits' stray/_changes — share one attempt directory) and
        return their manifest entries. Bucketed
        tables hash-partition into ``_kb=K/`` directories (the bucket
        id recorded per file) and, when ``sub_bits`` > 0, further into
        ``_ks=S/`` hash-range sub-directories (the hash's top
        ``sub_bits`` bits) so no file much exceeds ``target_file_rows``
        — the bounded rewrite unit file-level pruning depends on.
        Bucketed files also store the physical ``_kh`` key-hash column,
        whose parquet-footer min/max becomes the manifest's per-file
        ``khr`` pruning range (metadata-only — the footers of the
        just-written local files). Empty partitions write no file, so
        a delta touching one bucket produces files for that bucket
        only. ``bucketed=False`` skips the bucket split even on a
        bucketed table — append deltas use it (kb=None "stray" files),
        because splitting a small delta across every bucket would pay
        one parquet file's fixed overhead PER BUCKET; strays still
        carry ``_kh`` (when the delta has the key columns), so keyed
        commits can range-prune them too until compaction re-buckets
        them (exactly how unclustered data files behave in real table
        formats). A crashed attempt's directory is left as an orphan —
        unreferenced by construction (manifests are written only after
        the data write succeeds) and GC'd by :meth:`vacuum`; it is
        never deleted here, because an existing same-version directory
        may be a RIVAL's published data (round-11 advice)."""
        cdir = self.path / "data" / (
            attempt_dir or self._attempt_dirname(version)
        )
        if self.is_bucketed and bucketed is not False:
            nb = n_buckets if n_buckets is not None else self.n_buckets
            out = df.withColumn(_KH, self._kh_expr()).withColumn(
                _KB, F.pmod(F.col(_KH), F.lit(nb))
            )
            pcols = [_KB]
            if sub_bits > 0:
                out = out.withColumn(
                    _KS, F.shiftright(F.col(_KH), 64 - sub_bits)
                )
                pcols.append(_KS)
            nparts = min(nb << sub_bits, 2048)
            out.repartition(
                nparts, *[F.col(c) for c in pcols]
            ).write.partitionBy(*pcols).parquet(str(cdir))
        else:
            out = df
            if self.is_bucketed and all(
                k in df.columns for k in self.bucket_keys
            ):
                out = out.withColumn(_KH, self._kh_expr())
            out.write.parquet(str(cdir))
        files: list[dict] = []
        for p in sorted(cdir.rglob("part-*")):
            if not p.is_file():
                continue
            kb = None
            for anc in p.parents:
                if anc == cdir:
                    break
                if anc.name.startswith(f"{_KB}="):
                    kb = int(anc.name.split("=", 1)[1])
                    break
            # sizes/rows/ranges recorded at write time: the footprint
            # helpers read the manifest instead of stat()ing files per
            # call, keyed commits derive their split factor and
            # pruning set from it — carried entries keep theirs for
            # free. UNBUCKETED tables skip the footer reads entirely:
            # nothing ever prunes or sub-splits them, and the per-file
            # opens measurably taxed append-heavy maintenance
            # (round-10 profiling: q89's append branch)
            entry = {
                "path": str(p.relative_to(self.path)),
                "kb": kb,
                "bytes": p.stat().st_size,
            }
            if self.is_bucketed:
                rows, khr, khs = _parquet_kh_stats(p)
                entry["rows"] = rows
                entry["khr"] = khr
                if khs is not None:
                    entry["khs"] = khs
            files.append(entry)
        return files

    def _read_files(
        self, spark: SparkSession, files: list[dict], schema: StructType
    ) -> DataFrame:
        """Read exactly these manifest files with the recorded schema
        (leaf-file reads never infer the _kb path segment; files
        predating an evolved column read it as NULL)."""
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *[str(self.path / f["path"]) for f in files]
        )

    @staticmethod
    def _schema_of(man: dict) -> StructType:
        return StructType.fromJson(man["schema"])

    # ---- lifecycle --------------------------------------------------
    def init(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        *,
        bucket_keys: list[str] | None = None,
        n_buckets: int = 8,
        change_feed: bool = False,
        target_file_rows: int = DEFAULT_TARGET_FILE_ROWS,
    ) -> int:
        """(Re)create the table at version 0 from ``df``. Destroys any
        existing history — callers use it for a fresh maintenance run,
        not on a live table. (It also removes any streaming checkpoint
        kept under the table path, so foreachBatch batch ids and
        :meth:`last_applied_batch` restart together.)

        ``bucket_keys`` hash-partitions the data into ``n_buckets``
        key-buckets, enabling :meth:`commit_keyed`'s touched-bucket
        rewrites; the one-time bucketing shuffle here is the standard
        price of a bucketed layout.

        ``batch_id`` is recorded exactly as in :meth:`commit`: when the
        very FIRST delivered micro-batch creates the table, dropping
        its id would reopen the at-least-once double-apply hole for a
        crash between this init and the streaming checkpoint."""
        if self.path.exists():
            shutil.rmtree(self.path)
        self.path.mkdir(parents=True)
        self._meta_cache = None
        if bucket_keys is not None or change_feed:
            missing = [k for k in (bucket_keys or []) if k not in df.columns]
            if missing:
                raise ValueError(f"bucket keys absent from schema: {missing}")
            meta: dict = {"change_feed": change_feed}
            if bucket_keys is not None:
                meta |= {
                    "bucket_keys": list(bucket_keys),
                    "n_buckets": n_buckets,
                    "target_file_rows": target_file_rows,
                }
            (self.path / _META).write_text(json.dumps(meta))
        files = self._write_data(df, 0, n_buckets=n_buckets)
        if bucket_keys is not None:
            # oversized initial files are RE-SPLIT from the just-
            # written data (cheap local parquet), not avoided by a
            # pre-count: small tables — the common maintenance case —
            # pay zero extra jobs, big ones pay one extra bounded
            # rewrite so the first keyed commit's rewrite unit is a
            # ~target_file_rows file instead of a whole init bucket
            files = self._resplit_oversized(
                df.sparkSession, 0, files, df.schema, n_buckets
            )
        self._write_manifest(
            0, files, df.schema, batch_id,
            n_buckets=n_buckets if bucket_keys is not None else None,
        )
        self._swap_pointer(0)
        return 0

    def _resplit_oversized(
        self,
        spark: SparkSession,
        version: int,
        files: list[dict],
        schema: StructType,
        n_buckets: int,
    ) -> list[dict]:
        """If any just-written file exceeds the target split (its
        recorded rows demand sub_bits > 0), rewrite the version's data
        hash-range sub-split and return the new entries; otherwise
        return ``files`` unchanged. Reads back the written files — no
        second execution of the caller's (possibly expensive) lineage."""
        if not files:
            return files
        max_rows = max(f.get("rows") or 0 for f in files)
        sub_bits = self._sub_bits_for(max_rows)
        if sub_bits == 0:
            return files
        # all entries of one _write_data call share one attempt dir —
        # recover it from the recorded paths (data/<dirname>/...)
        dirname = Path(files[0]["path"]).parts[1]
        cdir = self.path / "data" / dirname
        stage = self.path / "data" / f"_resplit-{dirname}"
        if stage.exists():
            shutil.rmtree(stage)
        os.replace(cdir, stage)
        src = spark.read.schema(schema).parquet(
            *[
                str(stage / Path(f["path"]).relative_to(f"data/{dirname}"))
                for f in files
            ]
        )
        out = self._write_data(
            src, version, n_buckets=n_buckets, sub_bits=sub_bits
        )
        shutil.rmtree(stage)
        return out

    def commit(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        *,
        cdf: dict | None = None,
        rows_hint: int | None = None,
    ) -> int:
        """Full-snapshot commit: write ``df`` completely as the next
        version's data files, then move the pointer. O(table) by
        design — init, compaction, and non-incremental rewrites use
        it; incremental maintenance uses :meth:`commit_append` /
        :meth:`commit_keyed` instead.

        ``batch_id`` (foreachBatch's id) rides IN the manifest, whose
        atomic creation is the commit point, so (version,
        applied-batch) flip together atomically. Callers whose merge is NOT naturally
        idempotent check :meth:`last_applied_batch` to skip
        at-least-once re-deliveries.

        On a bucketed table the write is hash-range sub-split so no
        file much exceeds ``target_file_rows``: with ``rows_hint`` (a
        known row count — compaction passes the manifest's recorded
        sum) the split is sized up front; without it, oversized files
        are re-split from the written data after the fact (zero extra
        jobs when the table is small)."""
        cur = self.current_version()
        if cur is None:
            return self.init(df, batch_id)
        nxt = cur + 1
        sub_bits = 0
        nb = None
        if self.is_bucketed:
            nb = self._n_buckets_at(self._manifest_lite(cur))
            if rows_hint is not None:
                sub_bits = self._sub_bits_for(rows_hint / max(nb, 1))
        files = self._write_data(df, nxt, n_buckets=nb, sub_bits=sub_bits)
        if self.is_bucketed and rows_hint is None:
            # no hint: oversized files re-split from the written data,
            # same zero-extra-jobs-when-small rule as init
            files = self._resplit_oversized(
                df.sparkSession, nxt, files, df.schema, nb
            )
        self._write_manifest(
            nxt, files, df.schema, batch_id, cdf=cdf, n_buckets=nb,
            expect=cur,
        )
        self._swap_pointer(nxt)
        return nxt

    def commit_append(self, delta: DataFrame, batch_id: int | None = None) -> int:
        """O(Δ) append commit: write ONLY ``delta``'s rows as new data
        files; the new manifest references the previous version's
        files unchanged plus the delta's. Bytes written per commit
        scale with the delta, never with the table — the insert-only
        IVM write path (q89 'append')."""
        cur = self.current_version()
        if cur is None:
            return self.init(delta, batch_id)
        man = self._manifest_lite(cur)
        stored = self._schema_of(man)
        # BUCKET-KEY columns (only) cast to the STORED types before
        # the stray write: the file's _kh column (and its recorded
        # khr/khs pruning metadata) must hash the types future
        # touched-key frames are cast to — an int-typed delta on a
        # long-keyed table would otherwise record ranges that wrongly
        # prune the stray, carrying rows past their delete (the same
        # type-sensitivity the r9 bucket fix closed on the read side).
        # Non-key columns are deliberately NOT cast: a type-widening
        # append must widen through the schema union below, not be
        # silently narrowed into the stored type (round-10 review)
        if self.is_bucketed:
            ktypes = {
                f.name: f.dataType
                for f in stored.fields
                if f.name in self.bucket_keys
            }
            delta = delta.select(*[
                F.col(c).cast(ktypes[c]).alias(c) if c in ktypes else F.col(c)
                for c in delta.columns
            ])
        nxt = cur + 1
        new_files = self._write_data(delta, nxt, bucketed=False)
        # manifest schema = stored ∪ delta (schema-only union, no job):
        # recording the DELTA's schema verbatim would silently NARROW
        # an evolved table when a later append omits the new column
        merged_schema = (
            delta.sparkSession.createDataFrame([], stored)
            .unionByName(delta.limit(0), allowMissingColumns=True)
            .schema
        )
        # bucketed tables carry EVERY previous shard entry verbatim
        # (zero metadata loads — the new strays form their own shard
        # entry, folded into one at the next compaction, exactly like
        # the stray data files themselves); unbucketed tables append
        # to the inline list
        self._write_manifest(
            nxt,
            ([] if self.is_bucketed else man["files"]) + new_files,
            merged_schema,
            batch_id,
            # CDF for a pure append IS the delta: no second copy, the
            # version's own new files replay as op='I' (the same
            # file-reuse trick Delta's CDF does for insert-only
            # commits)
            cdf={"mode": "insert_files"} if self.has_change_feed else None,
            n_buckets=self._n_buckets_at(man),
            expect=cur,
            carry_shards=man.get("shards"),
        )
        self._swap_pointer(nxt)
        return nxt

    def touched_info(
        self, touched_keys: DataFrame, _man: dict | None = None
    ) -> TouchedInfo:
        """Compute the :class:`TouchedInfo` for a touched-key frame.
        The primary collect fetches the distinct key HASHES, capped at
        ``_FILE_PRUNE_KEYS``+1 — in the common small-delta case that
        single job yields the hash list for file-level pruning, the
        touched bucket set and the exact key count (broadcast guard,
        emptiness) at once. Only an over-cap bulk delta (where the
        hash list would prune nothing anyway — it touches essentially
        every file of its buckets) pays a second, BUCKET-granular
        groupBy collect for the exact count and bucket set.
        Callers issuing a read_buckets AND a commit_keyed for the same
        batch compute this once and pass it to both via ``info=``."""
        if not self.is_bucketed:
            raise ValueError(
                f"touched_info needs a bucketed table: {self.path}"
            )
        man = _man if _man is not None else self._manifest_lite()
        schema = self._schema_of(man)
        missing = [
            k for k in self.bucket_keys if k not in touched_keys.columns
        ]
        if missing:
            raise ValueError(
                f"touched keys must carry the bucket keys; missing: {missing}"
            )
        nb = self._n_buckets_at(man)
        tk = self._cast_keys(touched_keys.distinct(), schema)
        # ONE capped collect serves the common (small-delta) case
        # (round-14, guide §5 driver round-trips): fetch up to
        # _FILE_PRUNE_KEYS+1 key hashes and derive buckets/counts
        # driver-side (Python % == Spark pmod for a positive modulus
        # on the same xxhash64 longs) — the former per-bucket groupBy
        # collect PLUS hash-list collect cost two scheduled jobs per
        # commit. Only an over-cap bulk delta (where the hash list
        # would prune nothing anyway) pays the exact per-bucket
        # groupBy as a second job.
        capped = tk.select(self._kh_expr().alias("h")).limit(
            _FILE_PRUNE_KEYS + 1
        ).collect()
        if len(capped) <= _FILE_PRUNE_KEYS:
            hashes = sorted(r.h for r in capped)
            n_rows = len(hashes)
            tb = {h % nb for h in hashes}
        else:
            per_bucket = (
                tk.groupBy(self._kb_expr(nb).alias("b"))
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            tb = {r.b for r in per_bucket}
            n_rows = sum(r.c for r in per_bucket)
            hashes = None
        # lazy rebucket in progress: files still on an old spec need
        # their touched-bucket set under THAT spec. Derived driver-side
        # from the collected hashes when available (free — Python's %
        # is pmod for a positive modulus, matching Spark's pmod on the
        # same xxhash64 values); only the bulk over-cap regime pays one
        # extra bounded groupBy per old spec (at most one in practice).
        by_nb: dict[int, set] = {nb: tb}
        for spec in sorted({
            self._file_nb(s, nb)
            for s in man["shards"]
            if s.get("kb") is not None
        } - {None, nb}):
            if hashes is not None:
                by_nb[spec] = {h % spec for h in hashes}
            else:
                by_nb[spec] = {
                    r.b
                    for r in tk.groupBy(self._kb_expr(spec).alias("b"))
                    .agg(F.count(F.lit(1)).alias("c"))
                    .collect()
                }
        return TouchedInfo(hashes, n_rows, nb, by_nb)

    def _touched_files(
        self, man: dict, info: TouchedInfo
    ) -> tuple[list[dict], list[dict], list[dict], list[dict]]:
        """THE selection of the files a keyed batch touches, shared by
        :meth:`commit_keyed` (which rewrites them) and
        :meth:`read_buckets` (which reads them). Returns
        ``(carry_shards, touched, strays, carried)``:

        * a shard whose bucket is untouched under its own spec is
          carried as a reference, never parsed — the selection's
          metadata cost is O(touched shards);
        * a bucketed file of a loaded shard is ``touched`` when its
          bucket is touched AND :func:`_khr_hits` says it may hold a
          touched key, else ``carried``;
        * a kb=None stray (an append delta not yet compacted into
          buckets) may hold ANY key, so it is tested on the hash alone
          and lands in ``strays`` or ``carried``;
        * a spec missing from ``info.buckets`` is not bucket-pruned."""
        nb = self._n_buckets_at(man)
        carry_shards, loaded = [], []
        for s in man["shards"]:
            tb = info.buckets.get(self._file_nb(s, nb))
            if s.get("kb") is None or tb is None or s["kb"] in tb:
                loaded.extend(self._load_shard(s))
            else:
                carry_shards.append(s)
        file_nbs = [self._file_nb(f, nb) for f in loaded]
        hits = _khr_hits(loaded, info.hashes, file_nbs)
        touched, strays, carried = [], [], []
        for f, fnb, hit in zip(loaded, file_nbs, hits):
            tb = info.buckets.get(fnb)
            if f["kb"] is None:
                (strays if hit else carried).append(f)
            elif hit and (tb is None or f["kb"] in tb):
                touched.append(f)
            else:
                carried.append(f)
        return carry_shards, touched, strays, carried

    def commit_keyed(
        self,
        replacement: DataFrame,
        touched_keys: DataFrame,
        batch_id: int | None = None,
        *,
        info: TouchedInfo | None = None,
    ) -> int:
        """O(touched FILES) keyed commit: drop every stored row whose
        key appears in ``touched_keys`` (all of its columns join) and
        add ``replacement`` — the write half of a keyed merge/refresh.
        On a bucketed table only the files that can contain a touched
        key — bucket match AND manifest ``khr`` hash-range overlap —
        are read and rewritten; every other file, including same-bucket
        neighbours outside the touched ranges, is carried forward into
        the new manifest byte-identical. With writes sub-split to
        ``target_file_rows``, the rewrite unit stays ~constant as the
        table grows under a fixed bucket count. On an unbucketed table
        this degenerates to a full-snapshot rewrite (correct, not
        incremental) — bucket the table to get the O(Δ) path.

        PRECONDITION (caller contract): every ``replacement`` row's key
        must appear in ``touched_keys``. A replacement key absent from
        the touched set is NOT deleted first and would silently
        duplicate — the maintenance callers all derive replacement FROM
        the touched rows, satisfying this by construction. An empty
        touched set short-circuits to a no-op version-less return; if
        ``replacement`` is non-empty in that case the precondition is
        provably violated and this raises instead of corrupting.

        ``replacement`` may carry NEW columns the stored schema lacks
        (schema evolution): survivors are padded NULL and the manifest
        schema widens, so untouched files read the new column as NULL
        without being rewritten. Bucket-key columns are always CAST to
        their stored types first (replacement and touched keys alike)
        — files hash keys at their stored type, and a drifted key type
        would otherwise split one logical key across buckets.

        Scale guards: the touched-key hashes are collected driver-side
        (capped) to drive file pruning; past the broadcast-size cap —
        derived from the session's autoBroadcastJoinThreshold — the
        anti/semi joins fall back to shuffled joins, and past the
        prune cap the commit degrades to bucket-level granularity (the
        bulk-backfill regime, where a broadcast would blow the driver).

        The touched files are read lazily by up to three plans per
        commit (survivor write, CDF pre-images, and whatever the
        caller's replacement lineage holds) — all DELTA-bounded scans;
        an earlier `bucket_rows` pass-through parameter claimed to
        deduplicate them but could not (an un-persisted DataFrame
        re-executes its scan per action) and was removed."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"commit_keyed needs an initialized table: {self.path}"
            )
        spark = replacement.sparkSession
        man = self._manifest_lite(cur)
        schema = self._schema_of(man)
        tk = self._cast_keys(touched_keys.distinct(), schema)
        tcols = tk.columns
        bcap = _broadcast_key_cap(spark)
        small = True  # may broadcast the touched frame into joins?
        stray_files: list[dict] = []
        carry_shards: list[dict] | None = None
        sub_bits = 0
        nb = self._n_buckets_at(man)
        if self.is_bucketed:
            bkeys = self.bucket_keys
            missing = [k for k in bkeys if k not in tcols]
            if missing:
                raise ValueError(
                    f"touched_keys must carry the bucket keys; missing: {missing}"
                )
            # replacement bucket-key columns cast to the STORED types
            # (the same rule touched keys get): files hash keys at
            # their stored type, and unionByName coercion could
            # otherwise WIDEN the merged key type, splitting one
            # logical key across buckets vs the carried files
            ktypes = {
                f.name: f.dataType for f in schema.fields if f.name in bkeys
            }
            replacement = replacement.select(*[
                F.col(c).cast(ktypes[c]).alias(c)
                if c in ktypes
                else F.col(c)
                for c in replacement.columns
            ])
            # ONE capped driver collect powers everything downstream:
            # (hash, row-count) per distinct key hash → touched buckets
            # (pmod driver-side), file-range pruning, emptiness, and
            # the broadcast decision from the TRUE touched-frame size.
            # Callers that already computed it for their read_buckets
            # pass it in — one driver job per batch, not one per call.
            if info is None or info.n_buckets != nb:
                info = self.touched_info(touched_keys, _man=man)
            hashes = info.hashes
            small = info.n_rows is not None and info.n_rows <= bcap
            if hashes is not None and not hashes:
                # empty touched set: a logical no-op (empty micro-
                # batch). Minting a version would re-write strays
                # and grow history for nothing — short-circuit.
                # By the precondition an empty touched set means an
                # empty replacement; verify cheaply and fail loudly
                # on the caller bug instead of duplicating rows.
                if not replacement.isEmpty():
                    raise ValueError(
                        "commit_keyed precondition violated: "
                        "non-empty replacement with empty "
                        "touched_keys (replacement keys must be "
                        "covered by touched_keys)"
                    )
                return cur
            # surviving touched strays are re-written as strays —
            # re-bucketing a small scattered delta would pay one
            # parquet file's overhead per bucket it grazes; compaction
            # folds strays into buckets for real
            carry_shards, touched_files, stray_files, carried = (
                self._touched_files(man, info)
            )
            # size the rewrite's hash-range sub-split from the touched
            # files' recorded rows (replacement rows self-correct next
            # commit: an oversized file's own recorded rows drive a
            # bigger split when IT is next touched); grouped per
            # (spec, bucket) so mid-migration old-spec buckets don't
            # pool with same-numbered new-spec ones
            bucket_rows: dict[tuple, int] = {}
            for f in touched_files:
                key = (self._file_nb(f, nb), f["kb"])
                bucket_rows[key] = bucket_rows.get(key, 0) + (
                    f.get("rows") or 0
                )
            if bucket_rows:
                sub_bits = self._sub_bits_for(max(bucket_rows.values()))
        else:
            touched_files, carried = man["files"], []
            n_tk = tk.limit(bcap + 1).count()
            small = n_tk <= bcap
            if n_tk == 0:
                # same no-op / precondition contract as the bucketed
                # branch (round-10 review: it previously lived only
                # there, so an unbucketed caller bug duplicated rows)
                if not replacement.isEmpty():
                    raise ValueError(
                        "commit_keyed precondition violated: "
                        "non-empty replacement with empty touched_keys "
                        "(replacement keys must be covered by "
                        "touched_keys)"
                    )
                return cur

        def _survivors(files: list[dict]) -> DataFrame:
            tkj = F.broadcast(tk) if small else tk
            return (
                self._read_files(spark, files, schema)
                .join(tkj, on=tcols, how="left_anti")
                .select(*schema.fieldNames())  # anti fronts key columns
            )

        new_data = _survivors(touched_files).unionByName(
            replacement, allowMissingColumns=True
        )
        nxt = cur + 1
        adir = self._attempt_dirname(nxt)

        # ---- the commit's up-to-three INDEPENDENT writes (round-15,
        # guide §2.6): the survivor rewrite, the stray-survivor write
        # and the CDF write read the same inputs, produce disjoint
        # outputs, and the manifest (the only consumer of all three)
        # is written strictly after. Serially they queued behind each
        # other's stage tails — the dominant per-commit latency of
        # the q19/q33 lifecycles (the round-14 scaling probe read
        # both ≤1.0 at 8-vs-32 cores: driver-bound, not data-bound).
        # Each write gets its OWN token-unique attempt directory:
        # sharing one (the old serial layout) would race — the
        # survivor write's rglob file listing could pick up the other
        # tasks' part files as its own, and a concurrently-created
        # subdirectory would trip the ErrorIfExists save mode.
        # _written_by matches any data/c{v}-{token}/ prefix and
        # vacuum reference-counts per FILE, so multi-dir commits GC
        # exactly like single-dir ones. Plans are built on THIS
        # thread; worker threads only call .write and list files, so
        # a failure in any leaves its attempt dir an orphan exactly
        # as a serial crash did (unreferenced by construction).
        def _task_survivors() -> list[dict]:
            return self._write_data(
                new_data, nxt, n_buckets=nb, sub_bits=sub_bits,
                attempt_dir=adir,
            )

        stray_out = None
        if stray_files:
            sdir = (
                self.path / "data" / self._attempt_dirname(nxt) / "stray"
            )
            # stray survivors keep their _kh column and record full
            # pruning stats like every other write — without them
            # (round-10 review) one touched stray's survivors were
            # re-read and re-written by EVERY later keyed commit, and
            # the missing rows entry cost compact its
            # rows_hint (forcing the two-phase re-split)
            stray_out = _survivors(stray_files).withColumn(
                _KH, self._kh_expr()
            )

        def _task_strays() -> list[dict]:
            if stray_out is None:
                return []
            stray_out.write.parquet(str(sdir))
            entries = []
            for p in sorted(sdir.glob("part-*")):
                if not p.is_file():
                    continue
                rows, khr, khs = _parquet_kh_stats(p)
                entry = {
                    "path": str(p.relative_to(self.path)),
                    "kb": None,
                    "bytes": p.stat().st_size,
                    "rows": rows,
                    "khr": khr,
                }
                if khs is not None:
                    entry["khs"] = khs
                entries.append(entry)
            return entries

        changes = None
        if self.has_change_feed:
            # record this commit's effective I/U/D rows, O(Δ): the
            # pre-images are exactly the touched keys' stored rows
            # (already-read touched buckets + strays), the post-images
            # the replacement; bit-identical no-ops net away. Written
            # inside the version's data dir, referenced from the
            # manifest, GC'd with it.
            widen = new_data.limit(0)
            tkj = F.broadcast(tk) if small else tk
            pre = (
                self._read_files(
                    spark, touched_files + stray_files, schema
                )
                .join(tkj, on=tcols, how="left_semi")
                .unionByName(widen, allowMissingColumns=True)
            )
            post = replacement.unionByName(widen, allowMissingColumns=True)
            # ONE-PASS feed build (round-14, guide §2.4): the former
            # snapshot_diff full-outer join + U-key semi-join + union
            # executed the file read and the diff once per reference
            # (three delta scans, two join exchanges, ~10 AQE jobs per
            # commit measured at sf0.1). Union the two tagged sides
            # and a single groupBy on the keys recovers both images
            # per key; identical rows net away exactly as before, and
            # the U rows explode into the post-image ('U') AND the
            # pre-image ('U-') in the same pass — the Delta CDF
            # update_preimage/update_postimage contract, so a signed
            # consumer can maintain algebraic aggregates straight from
            # the feed (+I +U −U− −D). Equivalent to the join form
            # because keys here are unique per side BY CONSTRUCTION:
            # pre's rows came through a left-semi join on the touched
            # keys (a NULL-key stored row never matches, exactly as it
            # never matched the full outer), and replacement rows with
            # keys outside touched_keys violate the stated
            # precondition.
            vals = [c for c in pre.columns if c not in tcols]
            tagged = pre.select(
                *tcols,
                F.struct(*vals).alias("_s"),
                F.lit(False).alias("_new"),
            ).unionByName(
                post.select(
                    *tcols,
                    F.struct(*vals).alias("_s"),
                    F.lit(True).alias("_new"),
                )
            )
            g = (
                tagged.groupBy(*tcols)
                .agg(
                    F.max(
                        F.when(~F.col("_new"), F.col("_s"))
                    ).alias("_o"),
                    F.max(
                        F.when(F.col("_new"), F.col("_s"))
                    ).alias("_p"),
                )
                .filter(~F.col("_p").eqNullSafe(F.col("_o")))
            )

            def _tag_row(op: str, s) -> Column:
                return F.struct(F.lit(op).alias("op"), s.alias("_s"))

            arms = (
                F.when(
                    F.col("_o").isNull(),
                    F.array(_tag_row("I", F.col("_p"))),
                )
                .when(
                    F.col("_p").isNull(),
                    F.array(_tag_row("D", F.col("_o"))),
                )
                .otherwise(
                    F.array(
                        _tag_row("U", F.col("_p")),
                        _tag_row("U-", F.col("_o")),
                    )
                )
            )
            changes = g.select(*tcols, F.explode(arms).alias("_e")).select(
                F.col("_e.op").alias("op"),
                *tcols,
                *[F.col("_e._s").getField(c).alias(c) for c in vals],
            )
        cpath = (
            self.path / "data" / self._attempt_dirname(nxt) / "_changes"
        )

        def _task_cdf() -> dict | None:
            if changes is None:
                return None
            changes.write.parquet(str(cpath))
            return {
                "mode": "files",
                "files": [
                    str(p.relative_to(self.path))
                    for p in sorted(cpath.glob("part-*"))
                    if p.is_file()
                ],
                "schema": json.loads(changes.schema.json()),
            }

        tasks = [_task_survivors]
        if stray_out is not None:
            tasks.append(_task_strays)
        if changes is not None:
            tasks.append(_task_cdf)
        if len(tasks) > 1:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            # the session-arg form inherits the active session's tags
            # (and silences the sessionless deprecation warning)
            wrap = inheritable_thread_target(spark)
            with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
                futs = [pool.submit(wrap(t)) for t in tasks]
                results = [f.result() for f in futs]
        else:
            results = [tasks[0]()]
        new_files = results[0] + (
            results[1] if stray_out is not None else []
        )
        cdf = results[-1] if changes is not None else None
        keyed = {
            "pruning": (
                "none"
                if not self.is_bucketed
                else ("file" if hashes is not None else "bucket")
            ),
            "files_rewritten": len(touched_files) + len(stray_files),
            "files_carried": len(carried) + sum(
                s["n_files"] for s in (carry_shards or [])
            ),
        }
        self._write_manifest(
            nxt, carried + new_files, new_data.schema, batch_id, cdf=cdf,
            n_buckets=nb, keyed=keyed, expect=cur,
            carry_shards=carry_shards,
        )
        self._swap_pointer(nxt)
        return nxt

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        *,
        include_preimages: bool = False,
    ) -> DataFrame:
        """The change data feed: every commit's effective I/U/D rows
        for versions in ``(from_version, to_version]``, tagged with
        ``op`` and ``_commit_version`` — what an incremental consumer
        replays instead of diffing snapshots (the Delta CDF contract).
        Requires the table to have been initialized with
        ``change_feed=True``; a full-snapshot :meth:`commit` records
        no feed and makes ranges crossing it raise (compaction does
        NOT break the feed — it is logically changeless).

        ``include_preimages=True`` additionally returns each update's
        PRE-image as ``op='U-'`` (deletes carry theirs as the D row
        itself), enabling signed aggregate maintenance from the feed
        — see :func:`feed_agg_delta`."""
        to_v = self.current_version() if to_version is None else to_version
        if to_v is None:
            raise ValueError(f"uninitialized versioned table: {self.path}")
        frames = []
        for v in range(from_version + 1, to_v + 1):
            man = self.manifest(v)
            cdf = man.get("cdf")
            if cdf is None:
                raise ValueError(
                    f"no change feed recorded for version {v} (feed "
                    "disabled at init, or a full-snapshot commit broke it)"
                )
            if cdf["mode"] == "empty":
                continue
            if cdf["mode"] == "insert_files":
                files = [
                    f for f in man["files"] if self._written_by(f["path"], v)
                ]
                df = self._read_files(
                    spark, files, self._schema_of(man)
                ).select(F.lit("I").alias("op"), "*")
            else:
                cschema = StructType.fromJson(cdf["schema"])
                if cdf["files"]:
                    df = spark.read.schema(cschema).parquet(
                        *[str(self.path / p) for p in cdf["files"]]
                    )
                else:
                    df = spark.createDataFrame([], cschema)
                if not include_preimages:
                    df = df.filter(F.col("op") != "U-")
            frames.append(df.withColumn("_commit_version", F.lit(v)))
        if not frames:
            man = self.manifest(to_v)
            empty = spark.createDataFrame([], self._schema_of(man))
            return empty.select(
                F.lit("I").alias("op"),
                "*",
                F.lit(0).alias("_commit_version"),
            ).limit(0)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def last_applied_batch(self) -> int | None:
        """The foreachBatch batch id recorded with the CURRENT version,
        or None if the current version carries none (initial seed, or
        a non-streaming commit)."""
        v = self.current_version()
        if v is None:
            return None
        return self._manifest_lite(v).get("applied_batch")

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to ``version``."""
        man = self.manifest(version)
        return self._read_files(spark, man["files"], self._schema_of(man))

    def read_buckets(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        *,
        info: TouchedInfo | None = None,
    ) -> DataFrame:
        """The rows of exactly the files :meth:`commit_keyed` would
        rewrite for ``keys_df`` — the touched files and strays of the
        shared selection ``_touched_files`` (bucket match plus manifest
        ``khr``/``khs`` hash test). A SUPERSET of the keys' rows:
        same-range neighbours and unpruned append strays come along,
        so callers semi-join to narrow. This is the delta-bounded read
        half of a keyed merge: untouched files are never scanned, and
        untouched shards are never parsed. Unbucketed tables return
        the full snapshot."""
        if not self.is_bucketed:
            return self.read(spark)
        man = self._manifest_lite()
        if info is None or info.n_buckets != self._n_buckets_at(man):
            info = self.touched_info(keys_df, _man=man)
        _, touched, strays, _ = self._touched_files(man, info)
        return self._read_files(spark, touched + strays, self._schema_of(man))

    def versions(self) -> list[int]:
        return sorted(
            int(p.stem[1:])
            for p in self.path.glob("v*.json")
            if p.stem[1:].isdigit()
        )

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` versions (the current
        version is always kept regardless), then garbage-collect data
        files no surviving manifest references — reference-counted, so
        a file carried forward across fifty incremental commits lives
        until the LAST manifest naming it is dropped. Returns the
        versions removed. Time travel reaches only what vacuum leaves
        — same contract as any table format's retention window.

        Run vacuum FROM the table's single writer, like every other
        maintenance op: an in-flight commit's attempt data is
        unreferenced by any manifest until its commit point lands, so
        a vacuum racing a live commit would reclaim it (the same rule
        Delta's VACUUM states via its retention window). The
        tmp-manifest GC below is deliberately more conservative —
        current+1 tmps are left alone — but the data GC's contract is
        the single-writer one."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.current_version()
        keep = set(self.versions()[-keep_last:]) | (
            {cur} if cur is not None else set()
        )
        dropped = []
        for v in self.versions():
            if v not in keep:
                self._manifest_path(v).unlink()
                dropped.append(v)
        referenced = set()
        ref_shards: set[str] = set()
        flat_versions = []
        for v in self.versions():
            man = self._manifest_lite(v)
            referenced |= set(man.get("cdf", {}).get("files", []))
            if "shards" in man:
                ref_shards |= {s["path"] for s in man["shards"]}
            else:
                flat_versions.append(v)
        # shards are immutable and SHARED across manifests (content-
        # addressing), so each unique shard is parsed ONCE for its
        # data-file paths — near-O(live files) total instead of
        # O(versions x files) re-merging every surviving manifest
        for rel in ref_shards:
            referenced |= {
                f["path"]
                for f in json.loads((self.path / rel).read_text())["files"]
            }
        for v in flat_versions:
            referenced |= {f["path"] for f in self.manifest(v)["files"]}
        data = self.path / "data"
        if data.exists():
            for p in sorted(data.rglob("*")):
                if p.is_file() and str(p.relative_to(self.path)) not in referenced:
                    p.unlink()
            # prune now-empty commit/bucket directories, deepest first
            for d in sorted(
                (d for d in data.rglob("*") if d.is_dir()),
                key=lambda d: -len(d.parts),
            ):
                if not any(d.iterdir()):
                    d.rmdir()
        # shard JSONs are reference-counted exactly like data files:
        # content-addressing shares them across manifests, so one dies
        # only when the last surviving manifest naming it is dropped
        sdir = self.path / "shards"
        if sdir.exists():
            for p in sorted(sdir.glob("*.json")):
                if str(p.relative_to(self.path)) not in ref_shards:
                    p.unlink()
        # tmp-manifest litter (round-13 advice): a crash between the
        # tmp write and the finally-unlink in _write_manifest leaves
        # v{N}.json.tmp.{token} in the table root forever — versions()
        # ignores it but nothing reclaimed it. Any tmp whose version
        # is <= the current version is dead BY CONSTRUCTION (that
        # version is decided: its create-exclusive link either exists
        # or lost); a tmp for current+1 may belong to an in-flight
        # commit and is left alone — it becomes collectable the moment
        # any later commit lands.
        cur = self.current_version()
        if cur is not None:
            import re

            for p in self.path.glob("v*.json.tmp.*"):
                m = re.fullmatch(r"v(\d+)\.json\.tmp\.[0-9a-f]+", p.name)
                if m and int(m.group(1)) <= cur:
                    p.unlink(missing_ok=True)
        return dropped

    def suggest_rebucket(
        self, max_files_per_bucket: int = 8
    ) -> int | None:
        """Advisory that closes the keyed-commit shard-metadata loop
        (round-13; probe ``keyed_commit_shard_metadata``: manifest
        metadata grows toward O(total files) at FIXED n_buckets,
        measured e=0.83 at 64× growth, because every bucket's shard
        file list lengthens with keyed traffic). The mitigation —
        lazy spec evolution via :meth:`start_rebucket` — existed but
        nothing *triggered* it; this is the trigger check an operator
        (or a scheduled maintenance job) polls.

        Rule (round-14, advice-hardened from mean-only): when the
        current version's MAX files-per-bucket (read from the shard
        ENTRIES' recorded ``n_files`` — metadata-only, no shard JSON
        is parsed, no data touched; max >= mean so this subsumes the
        old mean rule) exceeds ``max_files_per_bucket``, returns the
        suggested new bucket count: the old count times the smallest
        power of two that restores BOTH max and mean files-per-bucket
        <= the threshold — under bucket skew the skewed bucket's file
        list is the rewrite/metadata unit the advisory exists to
        bound, and the mean alone stays quiet. A power-of-two MULTIPLE keeps the old spec
        dividing the new, which is exactly the shape the gcd-aware
        :meth:`rebucket_step` sizing migrates in bounded chunks.
        Returns None when within bounds, unbucketed, uninitialized,
        or mid-migration (a pending evolution already addresses it —
        re-suggesting would thrash the target).

        The suggestion addresses METADATA growth (bounded per-bucket
        file lists, bounded keyed-commit rewrite units); too many
        small files inside a healthy bucket count is :meth:`compact`'s
        job instead."""
        if max_files_per_bucket < 1:
            raise ValueError("max_files_per_bucket must be >= 1")
        if not self.is_bucketed:
            return None
        cur = self.current_version()
        if cur is None:
            return None
        if self.migration(cur) is not None:
            return None
        man = self._manifest_lite(cur)
        nb = self._n_buckets_at(man)
        if not nb:
            return None
        counts = [
            s.get("n_files", 0)
            for s in man.get("shards", [])
            if s.get("kb") is not None
        ]
        total_files = sum(counts)
        # round-14 (advice): the per-bucket file list is the actual
        # keyed-commit rewrite/metadata unit this advisory bounds, and
        # under bucket skew a single bucket can blow past the threshold
        # while the MEAN stays quiet — so trigger on max(max per-bucket,
        # mean) and size the factor to restore BOTH. The max-based
        # sizing assumes a power-of-two rebucket splits a hot bucket's
        # files ~uniformly by key hash (true for the pre-migration files
        # rebucket_step rewrites; a single hot KEY re-concentrating
        # afterwards is traffic, not metadata, and re-fires the advisory)
        max_files = max(counts, default=0)
        if max_files <= max_files_per_bucket:
            return None
        factor = 2
        while (
            total_files > nb * factor * max_files_per_bucket
            or max_files > factor * max_files_per_bucket
        ):
            factor *= 2
        return nb * factor

    def maintain(
        self,
        spark: SparkSession,
        *,
        max_files_per_bucket: int = 8,
        step_buckets: int = 1,
        max_steps: int | None = None,
        compact_target_files: int | None = None,
        vacuum_keep_last: int | None = None,
    ) -> dict:
        """The advisory→action maintenance loop in one resumable call
        (round-14; closes the round-13 gap where :meth:`suggest_rebucket`
        fired but nothing DEMONSTRATED that acting on it restores the
        keyed-commit metadata bound — probe
        ``keyed_metadata_post_rebucket`` now measures exactly that):

        1. poll :meth:`suggest_rebucket` — if it fires (and no
           migration is already pending), :meth:`start_rebucket` to
           the suggested spec (metadata-only);
        2. run :meth:`rebucket_step` in bounded chunks
           (``step_buckets`` old-spec buckets per commit) until the
           migration completes or ``max_steps`` commits have been
           spent — an operator schedules this with a small budget and
           the loop resumes where it left off next call, crash-safe
           because every step is one atomic commit;
        3. optionally :meth:`compact` (``compact_target_files``) ONCE
           the migration is fully done — compaction is a full rewrite,
           so it only runs when no old-spec file remains and the
           small-files debt the migration's chunked commits left
           behind is worth one snapshot commit;
        4. optionally :meth:`vacuum` (``vacuum_keep_last``) to retire
           pre-migration versions and their superseded data/shards.

        Single-writer, like every maintenance op. Returns a summary:
        ``{"suggested", "started", "steps", "migration_pending",
        "compacted", "vacuumed"}`` — ``migration_pending`` is the
        remaining old-spec file count (0 = fully migrated), so a cron
        caller can log progress without re-deriving it."""
        out: dict = {
            "suggested": None, "started": None, "steps": 0,
            "migration_pending": 0, "compacted": None, "vacuumed": [],
        }
        if self.migration() is None:
            sug = self.suggest_rebucket(
                max_files_per_bucket=max_files_per_bucket
            )
            out["suggested"] = sug
            if sug is not None:
                out["started"] = self.start_rebucket(sug)
        while self.migration() is not None and (
            max_steps is None or out["steps"] < max_steps
        ):
            self.rebucket_step(spark, max_buckets=step_buckets)
            out["steps"] += 1
        mig = self.migration()
        out["migration_pending"] = mig["pending_files"] if mig else 0
        if compact_target_files is not None and mig is None:
            out["compacted"] = self.compact(
                spark, target_files=compact_target_files
            )
        if vacuum_keep_last is not None:
            out["vacuumed"] = self.vacuum(keep_last=vacuum_keep_last)
        return out

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite the CURRENT version's data compactly and commit it
        as a new full-snapshot version — the small-files maintenance
        every incrementally-committed table needs (each commit_append /
        commit_keyed adds files; compaction restores scan-friendly
        sizes). Unbucketed tables coalesce to ``target_files``;
        bucketed tables rewrite to hash-range-split files of
        ~``target_file_rows`` per bucket (one file per bucket when the
        bucket fits in one target — ``target_files`` is ignored).
        Data is
        bit-identical by construction, committed through the same
        atomic manifest creation, and the pre-compaction version stays
        time-travelable until vacuumed. At real scale target_files
        derives from table bytes / maxPartitionBytes rather than a
        constant.

        The source version's applied-batch marker is carried forward:
        compaction rewrites the SAME logical state, so the last
        streaming batch folded into it is unchanged — dropping the
        marker would make the next at-least-once re-delivery look
        fresh and double-apply it."""
        df = self.read(spark)
        if not self.is_bucketed:
            df = df.coalesce(target_files)
        # compaction is logically changeless: the marker that lets the
        # change feed read straight through rides IN the manifest, so
        # (files, cdf, version) land atomically — a post-hoc patch
        # would leave a feed-breaking window after the commit
        return self.commit(
            df,
            batch_id=self.last_applied_batch(),
            cdf={"mode": "empty"} if self.has_change_feed else None,
            rows_hint=self._manifest_rows(),
        )

    def _manifest_rows(self) -> int | None:
        """Total recorded rows of the current version, or None when any
        file predates row recording — the free rows_hint for rewrites
        of the current snapshot (compact)."""
        rows = 0
        for f in self.manifest()["files"]:
            r = f.get("rows")
            if r is None:
                return None
            rows += r
        return rows

    def start_rebucket(self, n_buckets: int) -> int:
        """Begin LAZY bucket-spec evolution to ``n_buckets`` — a
        METADATA-ONLY commit: no data file is read or written (the
        round-10 review's last 100× edge; Iceberg's lazy
        partition-spec-evolution rule reduced to the hash-bucket
        case). The new manifest records the target spec for all
        FUTURE writes; every existing bucketed file is tagged with the
        spec its ``kb`` was written under (``nb`` per file entry), so
        reads and keyed commits keep pruning it correctly mid-
        migration. From here the table migrates incrementally:

        * every :meth:`commit_keyed` rewrites its touched files under
          the NEW spec (organic migration rides normal traffic);
        * :meth:`rebucket_step` migrates a bounded chunk of old-spec
          buckets per call — resumable, crash-safe (each step is one
          atomic commit), and interleavable with keyed/append traffic;
        * :meth:`compact` (a full rewrite anyway) completes the
          migration in one shot.

        The migration is done when :meth:`migration` returns None. A
        second ``start_rebucket`` while one is pending simply retargets
        future writes — already-tagged files keep the spec they are
        actually on, so multi-hop evolutions stay correct. Logically
        changeless (feed reads through); no-op when the table is
        already entirely on ``n_buckets``."""
        if not self.is_bucketed:
            raise ValueError(
                f"start_rebucket needs a bucketed table: {self.path}"
            )
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"start_rebucket needs an initialized table: {self.path}"
            )
        man = self._manifest_lite(cur)
        old_nb = self._n_buckets_at(man)
        if old_nb == n_buckets and self.migration(cur) is None:
            return cur
        # TRULY metadata-only: re-tag the shard ENTRIES (the spec tag
        # lives there, injected per file on load) — no shard file is
        # read or written; the small manifest is the only IO regardless
        # of table size
        carry = []
        for s in man["shards"]:
            s = dict(s)
            snb = self._file_nb(s, old_nb)
            if snb is not None and snb != n_buckets:
                s["nb"] = snb  # pin the spec this shard's kb is under
            else:
                s.pop("nb", None)  # stray / already on target
            carry.append(s)
        nxt = cur + 1
        self._write_manifest(
            nxt, [], self._schema_of(man), self.last_applied_batch(),
            cdf={"mode": "empty"} if self.has_change_feed else None,
            n_buckets=n_buckets, expect=cur, carry_shards=carry,
        )
        self._swap_pointer(nxt)
        return nxt

    def migration(self, version: int | None = None) -> dict | None:
        """Pending lazy-migration state at ``version``: None when every
        bucketed file is on the manifest's spec, else ``{"to": target,
        "pending_files": n, "pending_buckets": {old_spec: [bucket
        ids]}}`` — what remains for :meth:`rebucket_step` to move.
        Derived from the shard entries' spec tags — O(shard entries),
        zero shard loads; an unbucketed table has none — never stored
        separately, so it cannot drift from the files it describes."""
        man = self._manifest_lite(version)
        nb = self._n_buckets_at(man)
        pend: dict[int, set] = {}
        n = 0
        for s in man.get("shards", []):
            snb = self._file_nb(s, nb)
            if snb is not None and snb != nb:
                pend.setdefault(snb, set()).add(s["kb"])
                n += s["n_files"]
        if not pend:
            return None
        return {
            "to": nb,
            "pending_files": n,
            "pending_buckets": {s: sorted(b) for s, b in pend.items()},
        }

    def rebucket_step(
        self, spark: SparkSession, max_buckets: int = 1
    ) -> int | None:
        """Migrate up to ``max_buckets`` old-spec BUCKETS to the
        current manifest spec in ONE bounded commit, or return None
        when no old-spec file remains (migration complete). The
        rewrite unit is the chunk — bytes written per step are bounded
        by the chosen buckets' recorded bytes, never by the table — so
        a 100 TB spec change amortizes across as many commits as the
        operator wants, resumable after any crash (each step publishes
        through the same atomic manifest creation) and interleavable with
        keyed/append traffic, which keeps pruning correctly against
        the mixed-spec manifest throughout. Chunks are taken smallest
        (old_spec, bucket) first — deterministic, so a driver retry
        re-picks the same chunk. Logically changeless (feed reads
        through); applied-batch marker carries forward."""
        if not self.is_bucketed:
            raise ValueError(
                f"rebucket_step needs a bucketed table: {self.path}"
            )
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"rebucket_step needs an initialized table: {self.path}"
            )
        man = self._manifest_lite(cur)
        nb = self._n_buckets_at(man)
        pend = self.migration(cur)
        if pend is None:
            return None
        chosen = set(
            sorted(
                (s, b)
                for s, bs in pend["pending_buckets"].items()
                for b in bs
            )[:max_buckets]
        )
        move, carry_shards = [], []
        rows_by_spec: dict[int, int | None] = {}
        # selective: load ONLY the chosen chunks' shards; every other
        # shard is carried by reference — step metadata IO is
        # O(chunk), matching the step's data IO
        for s in man["shards"]:
            snb = self._file_nb(s, nb)
            if snb is not None and snb != nb and (snb, s["kb"]) in chosen:
                move.extend(self._load_shard(s))
                have, r = rows_by_spec.get(snb, 0), s.get("rows")
                rows_by_spec[snb] = (
                    None if (have is None or r is None) else have + r
                )
            else:
                carry_shards.append(s)
        nxt = cur + 1
        schema = self._schema_of(man)
        # an old-spec bucket scatters only into the new buckets sharing
        # its residue mod gcd(nb, old_spec) — nb//gcd distinct targets,
        # so the per-target estimate is rows/(nb//gcd), NOT rows/nb
        # (round-11 advice: plain /nb underestimated by old_spec×
        # exactly when the old spec divides the new one, the normal
        # power-of-two evolution, letting migrated files reach
        # old_spec × target_file_rows)
        est = 0.0
        for spec, r in rows_by_spec.items():
            if r is not None:
                est = max(est, r / max(nb // math.gcd(nb, spec), 1))
        sub_bits = self._sub_bits_for(est) if est else 0
        src = self._read_files(spark, move, schema)
        new_files = self._write_data(
            src, nxt, n_buckets=nb, sub_bits=sub_bits
        )
        # safety net now UNCONDITIONAL (was: unknown-rows only): checks
        # the just-recorded footer row counts, so it costs zero extra
        # jobs whenever the gcd sizing above sufficed, and re-splits
        # from the written files (never the source lineage) when it
        # did not — the bounded keyed-rewrite-unit contract holds for
        # migrated files unconditionally
        new_files = self._resplit_oversized(
            spark, nxt, new_files, schema, nb
        )
        self._write_manifest(
            nxt,
            new_files,
            schema,
            self.last_applied_batch(),
            cdf={"mode": "empty"} if self.has_change_feed else None,
            n_buckets=nb,
            expect=cur,
            carry_shards=carry_shards,
        )
        self._swap_pointer(nxt)
        return nxt

    def file_count(self, version: int | None = None) -> int:
        return len(self.manifest(version)["files"])

    def bytes_added(self, version: int | None = None) -> int:
        """Bytes of data WRITTEN by this commit (its new files under
        its own ``data/c{version}-{token}`` attempt directory only,
        carried-forward files excluded) —
        the quantity the O(Δ) contract bounds and the counted-bytes
        tests/probes measure."""
        v = self.current_version() if version is None else version
        return sum(
            f["bytes"]
            for f in self.manifest(v)["files"]
            if self._written_by(f["path"], v)
        )

    def history(self) -> list[dict]:
        """Commit history as plain rows (newest last): one dict per
        surviving version with its applied batch id, file/byte
        footprint, how much of it was newly written vs carried
        forward, and — for keyed commits — which pruning granularity
        ran (``keyed.pruning``: 'file' when the touched-hash list was
        collected, 'bucket' past the prune cap where file pruning
        silently degrades, 'none' unbucketed) with the
        rewritten/carried file split — the DESCRIBE HISTORY every
        table format exposes, reduced to what the maintenance jobs
        need to audit their own write amplification (the q19/q33/q89
        invariants read it)."""
        out = []
        for v in self.versions():
            man = self.manifest(v)
            files = man["files"]
            row = {
                "version": v,
                "applied_batch": man.get("applied_batch"),
                "n_files": len(files),
                "n_stray_files": sum(1 for f in files if f["kb"] is None)
                if self.is_bucketed else 0,
                "bytes_total": sum(f["bytes"] for f in files),
                "bytes_added": sum(
                    f["bytes"]
                    for f in files
                    if self._written_by(f["path"], v)
                ),
                "keyed": man.get("keyed"),
            }
            if self.is_bucketed:
                mig = self.migration(v)
                row["pending_migration_files"] = (
                    mig["pending_files"] if mig else 0
                )
            out.append(row)
        return out

    def stray_bytes(self, version: int | None = None) -> int:
        """Bytes held in kb=None stray files (append deltas not yet
        folded into buckets) at ``version`` — the auto-compaction
        trigger metric."""
        if not self.is_bucketed:
            return 0
        return sum(
            f["bytes"]
            for f in self.manifest(version)["files"]
            if f["kb"] is None
        )


def apply_change_feed(
    base: DataFrame, changes: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a change data feed (rows tagged ``op`` ∈ I/U/D and
    ``_commit_version``, the
    :meth:`VersionedTable.read_changes`
    output) onto a base snapshot: per key, the LATEST change wins
    (deletes remove, inserts/updates replace), untouched keys carry.
    The replay law — ``apply_change_feed(read(a), read_changes(a, b))
    == read(b)`` for any key-unique fed table — is property-pinned in
    the versioned-table suite; it is what lets an incremental consumer
    catch up from a table's history instead of re-diffing snapshots.

    Requires ``keys`` to be a row identity of the table (join views
    keyed by a non-unique dimension key replay through the keyed
    refresh in ``streaming/ops`` instead). Scale: one window over the
    CHANGES (delta-sized), one broadcast anti-join of the base against
    the touched keys — O(Δ ⋈ base scan), never O(base ⋈ base)."""
    # pre-image rows (op 'U-', present when the feed was read with
    # include_preimages=True for a signed consumer) are NOT post-state:
    # they tie with their 'U' row on _commit_version and would win the
    # window nondeterministically, replaying stale values — drop them
    changes = changes.filter(F.col("op") != "U-")
    w = W.partitionBy(*keys).orderBy(F.col("_commit_version").desc())
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select(*keys)
    ups = latest.filter(F.col("op") != "D").drop("op", "_commit_version")
    return (
        base.join(F.broadcast(touched), on=keys, how="left_anti")
        .select(*base.columns)  # anti-join fronts the key columns
        .unionByName(ups.select(*base.columns))
    )


def feed_agg_delta(
    changes: DataFrame, sum_cols: list[str]
) -> DataFrame:
    """Signed aggregate maintenance from a change feed read with
    ``include_preimages=True``: one pass computes the exact DELTA each
    additive aggregate moved across the fed range — rows count +1 for
    inserts and update post-images, −1 for deletes and update
    pre-images, so

        agg(version b) == agg(version a) + feed_agg_delta(changes a→b)

    for every SUM/COUNT (the signed-compensation law pinned in the
    versioned-table suite; the same algebra as the keyed IVM's
    DBToaster rule). Returns ONE row: ``d_count`` plus ``d_<col>`` per
    requested column. Min/max are not algebraic under deletion — that
    boundary is why the sketch queries exist."""
    sign = F.when(F.col("op").isin("I", "U"), F.lit(1)).otherwise(F.lit(-1))
    return changes.select(sign.alias("_s"), *sum_cols).agg(
        F.coalesce(F.sum("_s"), F.lit(0)).alias("d_count"),
        *[
            F.coalesce(F.sum(F.col(c) * F.col("_s")), F.lit(0)).alias(f"d_{c}")
            for c in sum_cols
        ],
    )
