"""Candidate index collection: which ACTIVE indexes can serve which scan.

Two-stage filter per source leaf, like the reference
(rules/CandidateIndexCollector.scala:28-60): column/schema compatibility
(ColumnSchemaFilter.scala:28-45), then source-data fingerprint match with
hybrid-scan byte-ratio thresholds (FileSignatureFilter.scala:33-192).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from hyperspace_spark.config import HyperspaceConf
from hyperspace_spark.fs import FileSystem
from hyperspace_spark.indexes import KINDS
from hyperspace_spark.metadata.entry import FileInfo, IndexLogEntry, States
from hyperspace_spark.metadata.signature import file_based_signature
from hyperspace_spark.planner import ir

# whyNot reason catalog (reference: plananalysis/FilterReason.scala:33-158).
COL_SCHEMA_MISMATCH = "COL_SCHEMA_MISMATCH"
SOURCE_DATA_CHANGED = "SOURCE_DATA_CHANGED"
NO_COMMON_FILES = "NO_COMMON_FILES"
TOO_MUCH_APPENDED = "TOO_MUCH_APPENDED"
TOO_MUCH_DELETED = "TOO_MUCH_DELETED"
NO_DELETE_SUPPORT = "NO_DELETE_SUPPORT"


@dataclass
class Candidate:
    entry: IndexLogEntry
    appended: list[FileInfo] = field(default_factory=list)
    deleted: list[FileInfo] = field(default_factory=list)
    common_bytes: int = 0
    total_bytes: int = 0
    hybrid: bool = False

    @property
    def coverage(self) -> float:
        """Fraction of live source bytes the index covers (1.0 = exact)."""
        if not self.hybrid:
            return 1.0
        return self.common_bytes / self.total_bytes if self.total_bytes else 0.0


@dataclass
class Reasons:
    """whyNot reason sink: (index_name, reason, detail)."""

    items: list[tuple[str, str, str]] = field(default_factory=list)

    def add(self, index_name: str, reason: str, detail: str = "") -> None:
        self.items.append((index_name, reason, detail))


def live_source_files(scan: ir.Scan, fs: FileSystem) -> list[FileInfo]:
    from hyperspace_spark.sources import provider_for

    return provider_for(scan).live_files(scan, fs)


def collect_candidates(
    scan: ir.Scan,
    entries: list[IndexLogEntry],
    fs: FileSystem,
    conf: HyperspaceConf,
    reasons: Reasons | None = None,
) -> list[Candidate]:
    live: list[FileInfo] | None = None
    live_sig: str | None = None
    pinned: bool | None = None  # lazy, computed once per scan like live/live_sig
    out: list[Candidate] = []
    scan_cols = set(scan.output)

    for e in entries:
        # Source identity: same root paths.
        idx_roots = tuple(sorted(_norm(p) for r in e.relations for p in r.root_paths))
        if idx_roots != scan.normalized_paths():
            continue
        # Column schema compatibility.  Dotted (nested) columns check only
        # their ROOT against the scan: Catalyst's nestedSchemaPruning
        # rewrites the relation's dataSchema to just the accessed leaves,
        # so unrelated index leaves would look missing; full-path existence
        # was validated at create time against the unpruned schema.
        referenced = _referenced_columns(e)
        missing = sorted(c for c in referenced if c.split(".", 1)[0] not in scan_cols)
        if missing:
            if reasons:
                reasons.add(e.name, COL_SCHEMA_MISMATCH, f"missing source columns {missing}")
            continue
        if live is None:
            from hyperspace_spark.sources import provider_for

            provider = provider_for(scan)
            live = provider.live_files(scan, fs)
            live_sig = provider.signature(scan, live)
        if live_sig == e.signature:
            total = sum(f.size for f in live)
            out.append(Candidate(entry=e, common_bytes=total, total_bytes=total))
            continue
        # Closest-version fallback eligibility (reference:
        # DeltaLakeRelation.scala:179-215 closestIndex): a time-travel
        # query pinned to an old snapshot can diverge from the LATEST
        # index version while an OLDER retained index version (log
        # entries + v__=N dirs survive until vacuum_outdated) matches it
        # better — exactly, or within the hybrid thresholds.  Only
        # snapshot sources pinned AWAY from the current snapshot get the
        # O(versions) index-log walk: a latest-snapshot query can never
        # find a closer OLD version, so gating on pinnedness (one cached
        # table-metadata read, _scan_is_pinned) keeps the walk off the
        # steady-state planning path even when the index is badly stale.
        if pinned is None:
            pinned = bool(scan.delta_root or scan.iceberg_root) and _scan_is_pinned(
                scan, live_sig
            )
        if not conf.hybridscan_enabled:
            # An exact-signature retained version needs NO hybrid
            # machinery, so it stays usable with hybrid scan off.
            cand = None
            if pinned:
                cand = _closest_history_candidate(
                    e, live, live_sig, conf, fs, reasons, exact_only=True
                )
            if cand is None:
                if reasons:
                    reasons.add(
                        e.name, SOURCE_DATA_CHANGED, "signature mismatch, hybrid scan off"
                    )
                continue
            out.append(cand)
            continue
        cand = _hybrid_candidate(e, live, conf, reasons)
        if pinned and (cand is None or cand.hybrid):
            # When the latest version already passes hybrid (ANY
            # compensation — note a deletes-only delta still shows
            # coverage 1.0), only an EXACT old match (zero compensation)
            # is worth preferring over it; when it was rejected, any
            # in-threshold old version beats nothing.
            hist = _closest_history_candidate(
                e, live, live_sig, conf, fs, reasons, exact_only=cand is not None
            )
            if hist is not None and (
                cand is None
                or (not hist.hybrid and cand.hybrid)
                or hist.coverage > cand.coverage
            ):
                cand = hist
        if cand is not None:
            out.append(cand)
    return out


def _scan_is_pinned(scan: ir.Scan, live_sig: str | None) -> bool:
    """True when a delta/iceberg scan reads a snapshot OTHER than the
    table's current one (time travel).  One metadata read against the
    already-cached log/metadata — the guard that keeps the O(versions)
    index-log history walk off the plain latest-snapshot planning path."""
    import hashlib

    try:
        from hyperspace_spark.sources.delta import strip_scheme

        if scan.delta_root:
            from hyperspace_spark.sources.delta import DeltaLog

            root = strip_scheme(scan.delta_root)
            cur = hashlib.md5(
                f"delta:{root}@{DeltaLog(root).latest_version()}".encode()
            ).hexdigest()
        elif scan.iceberg_root:
            from hyperspace_spark.sources.iceberg import IcebergTable

            root = strip_scheme(scan.iceberg_root)
            cur = hashlib.md5(
                f"iceberg:{root}@{IcebergTable(root).current_snapshot_id()}".encode()
            ).hexdigest()
        else:
            return False
    except Exception:
        return True  # can't tell -> keep the fallback reachable
    return live_sig != cur


def _closest_history_candidate(
    latest_entry: IndexLogEntry,
    live: list[FileInfo],
    live_sig: str | None,
    conf: HyperspaceConf,
    fs: FileSystem,
    reasons: Reasons | None,
    exact_only: bool = False,
) -> Candidate | None:
    """Best retained OLD version of this index for the queried snapshot:
    exact signature match wins, else (unless ``exact_only``) the
    highest-coverage entry inside the hybrid thresholds.  Entries whose
    data dirs were vacuumed are skipped."""
    import os as _os

    from hyperspace_spark.metadata.log_manager import IndexLogManager

    mgr = IndexLogManager(_os.path.join(conf.system_path, latest_entry.name), fs)
    best: Candidate | None = None
    for old in mgr.stable_history():
        if old.id == latest_entry.id or old.state != States.ACTIVE:
            continue
        if not old.index_data_dirs or not all(
            fs.exists(d) for d in old.index_data_dirs
        ):
            continue  # vacuumed
        if live_sig == old.signature:
            total = sum(f.size for f in live)
            return Candidate(entry=old, common_bytes=total, total_bytes=total)
        if exact_only:
            continue
        cand = _hybrid_candidate(old, live, conf, None)
        if cand is not None and (best is None or cand.coverage > best.coverage):
            best = cand
    if best is not None and reasons:
        reasons.add(
            latest_entry.name,
            SOURCE_DATA_CHANGED,
            f"latest version over hybrid thresholds; using retained log id {best.entry.id}",
        )
    return best


def _referenced_columns(e: IndexLogEntry) -> set[str]:
    p = e.derived_properties
    cols = set(p.get("indexedColumns", [])) | set(p.get("includedColumns", []))
    for sk in p.get("sketches", []):
        cols.update(sk.get("columns", []))
    return cols


def _hybrid_candidate(
    e: IndexLogEntry,
    live: list[FileInfo],
    conf: HyperspaceConf,
    reasons: Reasons | None,
) -> Candidate | None:
    """File-overlap arithmetic with the reference's byte-ratio thresholds
    (FileSignatureFilter.scala:108-185; IndexConstants.scala:42-52)."""
    indexed = e.source_files_by_key()
    live_by_key = {f.key(): f for f in live}
    common_keys = indexed.keys() & live_by_key.keys()
    if not common_keys:
        if reasons:
            reasons.add(e.name, NO_COMMON_FILES, "")
        return None
    # Quick-refresh deltas recorded in the log count on top of live-vs-indexed.
    appended = [f for k, f in live_by_key.items() if k not in indexed]
    deleted = [f for k, f in indexed.items() if k not in live_by_key]
    total = sum(f.size for f in live)
    common = sum(live_by_key[k].size for k in common_keys)
    appended_bytes = sum(f.size for f in appended)
    deleted_bytes = sum(f.size for f in deleted)
    indexed_bytes = sum(f.size for f in indexed.values())
    if total and appended_bytes / total > conf.hybridscan_max_appended_ratio:
        if reasons:
            reasons.add(e.name, TOO_MUCH_APPENDED, f"{appended_bytes}/{total} bytes appended")
        return None
    if indexed_bytes and deleted_bytes / indexed_bytes > conf.hybridscan_max_deleted_ratio:
        if reasons:
            reasons.add(e.name, TOO_MUCH_DELETED, f"{deleted_bytes}/{indexed_bytes} bytes deleted")
        return None
    # Row-materializing indexes need the lineage column to filter deleted
    # files' rows out; a kind that says otherwise (data skipping: one row
    # per FILE, intersected with the live files) needs none.
    if (
        deleted
        and not KINDS[e.derived_kind].CAN_HANDLE_DELETED_FILES
        and not e.derived_properties.get("lineage", False)
    ):
        if reasons:
            reasons.add(e.name, NO_DELETE_SUPPORT, "index built without lineage")
        return None
    return Candidate(
        entry=e,
        appended=appended,
        deleted=deleted,
        common_bytes=common,
        total_bytes=total,
        hybrid=True,
    )


def _norm(p: str) -> str:
    if p.startswith("file://"):
        p = p[len("file://"):]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    return p.rstrip("/")
