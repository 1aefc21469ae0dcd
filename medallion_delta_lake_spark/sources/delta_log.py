"""Minimal pure-Python Delta Lake transaction log: reader AND writer.

Snapshot resolution per the PUBLIC Delta transport protocol
(delta-io/delta PROTOCOL.md): replay the ``_delta_log`` JSON commits —
starting from the parquet checkpoint referenced by ``_last_checkpoint``
when one exists — materialize the active add-file set, and hand the
resulting file list to Spark's parquet reader. This gives the engine
REAL Delta-table reads, including time travel (``version_as_of``), in
environments without delta-spark (reference parity: `scan-delta`,
silver_table_creation.py:28, gold_table_creation.py:26-31).
:func:`write_delta` emits the same protocol from the write side
(append / overwrite commits with O_EXCL put-if-absent versioning), and
:func:`upsert_delta_log` runs the reference's keyed MERGE semantics on
top of them. operators/upsert.py remains the default engine path
(native MERGE when delta-spark is importable, else the
parquet-snapshot fallback with identical semantics).

Scope honesty: reader protocol 1-2 tables (plus feature-gated
protocol 3 whose readerFeatures are all supported). Column mapping is
supported in BOTH modes — ``name`` (physical→logical rename per the
``delta.columnMapping.physicalName`` field metadata) and ``id`` (the
parquet scan resolves columns by field id via
``spark.sql.parquet.fieldId.read.enabled``; physical names are
ignored, as the spec requires). Deletion vectors are supported on
both sides — reads subtract DV-flagged rows via the parquet scan's
hidden ``_metadata.row_index`` (:func:`_subtract_dvs`), and
:func:`delete_delta_log` deletes rows by writing DVs instead of
rewriting files, with :func:`optimize_delta_log` materializing them
away at compaction time. V2 (manifest + sidecar) checkpoints replay
on the read side. Reader features are WHITELISTED — a table listing a
feature this reader does not implement raises instead of silently
returning wrong rows, exactly the spec's contract.

Concurrency: commits use O_EXCL put-if-absent, so two writers can
never clobber one version. Pure appends retry on a lost race (their
add actions are valid against any snapshot); overwrites and merges
computed their actions against a snapshot that a concurrent commit
invalidates, so they raise :class:`DeltaConcurrentWriteError` instead
of silently dropping the other writer's rows — the same contract as
Delta's ConcurrentModificationException family.

Scale notes: the log replay is driver-side metadata work — O(actions
since checkpoint), the same shape delta-rs and Delta's own Spark reader
use; data files are never touched until the returned DataFrame's scan
runs, so partition pruning and column pruning still push into the
parquet scan. Partitioned tables rebuild partition columns from each
add-action's ``partitionValues`` (grouped into one read per distinct
partition tuple — at most one per partition directory, as a real log
lists files per partition).
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# Whitelist, per the spec's contract: a reader must refuse any table
# listing a readerFeature it does not implement. timestampNtz is pure
# type support (Spark reads TIMESTAMP_NTZ natively) and
# vacuumProtocolCheck imposes no read-path behavior.
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "deletionVectors",
    "v2Checkpoint",
    "timestampNtz",
    "vacuumProtocolCheck",
    # the read path serves widened columns from unrewritten narrow
    # files by passing the wide logical schema to the parquet scan
    # (alter_column_type; tests/test_type_widening.py)
    "typeWidening",
    # Spark 4 reads/writes VARIANT parquet natively; the engine's
    # scan passes the logical schema straight through
    # (tests/test_variant.py). The mdls_delta Python DataSource
    # refuses variant tables (pyarrow cannot parse the footer).
    "variantType",
}


class DeltaProtocolError(NotImplementedError):
    """The table uses a reader feature this minimal reader must not
    silently misread (v2 checkpoints, unknown columnMapping modes)."""


class DeltaConcurrentWriteError(RuntimeError):
    """A concurrent commit landed between this transaction's snapshot
    read and its commit attempt; retrying would silently drop the
    other writer's changes, so the caller must re-read and re-apply
    (Delta's ConcurrentModificationException contract)."""


class DeltaSchemaMismatchError(ValueError):
    """The DataFrame's schema or partitioning does not match the
    table's committed metaData; writing it anyway would null-fill or
    misread columns on the read path. Pass ``overwrite_schema=True``
    with ``mode="overwrite"`` to evolve the table's metaData
    deliberately (Delta's overwriteSchema contract)."""


class DeltaInvariantViolationError(ValueError):
    """The write violates a table invariant the committed metaData
    declares — a NOT NULL column (schemaString nullable=false, the
    protocol's Column Invariants / writer version 2) or a CHECK
    constraint (``delta.constraints.<name>`` configuration, writer
    version 3). Writers MUST enforce these or refuse to write
    (PROTOCOL.md); silently committing would let readers see rows the
    table's own contract forbids."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def is_delta_table(path: str) -> bool:
    """True if ``path`` carries a Delta transaction log."""
    return os.path.isdir(_log_dir(path))


def _check_protocol(proto: dict) -> None:
    if not proto:
        return
    if proto.get("minReaderVersion", 1) >= 3:
        feats = set(proto.get("readerFeatures") or [])
        bad = feats - _SUPPORTED_READER_FEATURES
        if bad:
            raise DeltaProtocolError(
                f"unsupported Delta reader features: {sorted(bad)}"
            )
    elif proto.get("minReaderVersion", 1) == 2:
        # reader v2 == column mapping capable; only reject if actually on
        pass


def _check_metadata(meta: dict) -> None:
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"delta.columnMapping.mode={mode} is not supported"
        )


def _column_mapping(meta: dict, schema: StructType) -> dict[str, str]:
    """logical name → physical name, from the schemaString's
    ``delta.columnMapping.physicalName`` field metadata (only when the
    table's columnMapping mode is ``name``; empty dict otherwise —
    callers treat missing entries as identity)."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode not in ("name", "id"):
        return {}
    out = {}
    for field in schema.fields:
        phys = (field.metadata or {}).get("delta.columnMapping.physicalName")
        if phys:
            out[field.name] = phys
    return out


def _field_ids(meta: dict, schema: StructType) -> dict[str, int]:
    """logical name → parquet field id, when the table's columnMapping
    mode is ``id`` (``delta.columnMapping.id`` field metadata). Under
    id mode the parquet column NAMES are unreliable — the ids are
    authoritative, and Spark's scan resolves them natively once the
    read schema carries ``parquet.field.id`` metadata and
    ``spark.sql.parquet.fieldId.read.enabled`` is on."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode != "id":
        return {}
    out = {}
    for field in schema.fields:
        fid = (field.metadata or {}).get("delta.columnMapping.id")
        if fid is not None:
            out[field.name] = int(fid)
    return out


def _apply_action(state: dict, action: dict) -> None:
    if "add" in action and action["add"]:
        # an add for an already-live path replaces its entry — that is
        # how a DELETE attaches a deletion vector to an existing file
        state["files"][action["add"]["path"]] = action["add"]
    elif "remove" in action and action["remove"]:
        state["files"].pop(action["remove"]["path"], None)
    elif "metaData" in action and action["metaData"]:
        _check_metadata(action["metaData"])
        state["meta"] = action["metaData"]
    elif "protocol" in action and action["protocol"]:
        _check_protocol(action["protocol"])
        state["protocol"] = action["protocol"]
    elif "txn" in action and action["txn"]:
        txn = action["txn"]
        state["txns"][txn["appId"]] = max(
            txn["version"], state["txns"].get(txn["appId"], -1)
        )
    elif "domainMetadata" in action and action["domainMetadata"]:
        dm = action["domainMetadata"]
        if dm.get("removed"):
            state.setdefault("domains", {}).pop(dm["domain"], None)
        else:
            state.setdefault("domains", {})[dm["domain"]] = dm.get(
                "configuration", ""
            )


def _read_checkpoint(state: dict, ckpt_file: str) -> None:
    """Apply one checkpoint parquet's actions — including the V2
    layout, where the file is a MANIFEST whose ``sidecar`` actions
    point at ``_delta_log/_sidecars/*.parquet`` files carrying the
    add/remove bulk (PROTOCOL.md "V2 Spec Checkpoints"; the
    ``checkpointMetadata`` action is bookkeeping and needs no state)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(ckpt_file)
    for name in (
        "protocol",
        "metaData",
        "add",
        "remove",
        "txn",
        "domainMetadata",
    ):
        if name not in tbl.column_names:
            continue
        for v in tbl.column(name).to_pylist():
            if v is not None:
                _apply_action(state, {name: v})
    if "sidecar" in tbl.column_names:
        log = os.path.dirname(ckpt_file)
        for sc in tbl.column("sidecar").to_pylist():
            if sc is None:
                continue
            side = pq.read_table(
                os.path.join(log, "_sidecars", sc["path"])
            )
            for name in ("add", "remove"):
                if name not in side.column_names:
                    continue
                for v in side.column(name).to_pylist():
                    if v is not None:
                        _apply_action(state, {name: v})


_CKPT_RE = None  # compiled lazily (module avoids importing re at top)


def _ckpt_patterns():
    global _CKPT_RE
    if _CKPT_RE is None:
        import re

        _CKPT_RE = (
            re.compile(r"^(\d{20})\.checkpoint\.parquet$"),
            re.compile(r"^(\d{20})\.checkpoint\.[0-9a-fA-F-]{8,}\.parquet$"),
            re.compile(
                r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$"
            ),
        )
    return _CKPT_RE


def _discover_checkpoints(log: str) -> dict[int, list[str]]:
    """version → checkpoint file names, from the directory listing:
    classic single-file, V2 uuid-named manifests, and complete
    multi-part sets (incomplete part sets are ignored — a crashed
    checkpoint writer must not poison replay). Multi-part fragments
    are keyed by (version, part-count) so two coexisting attempts with
    different part counts are each validated for completeness on their
    own — a mixed set must never pass the check (ADVICE r6)."""
    classic_re, v2_re, part_re = _ckpt_patterns()
    out: dict[int, list[str]] = {}
    parts: dict[tuple[int, int], dict[int, str]] = {}
    for f in os.listdir(log):
        m = part_re.match(f)
        if m:
            v, i, n = int(m.group(1)), int(m.group(2)), int(m.group(3))
            parts.setdefault((v, n), {})[i] = f
            continue
        m = classic_re.match(f) or v2_re.match(f)
        if m:
            out.setdefault(int(m.group(1)), []).append(f)
    complete_parts: dict[int, list[str]] = {}
    for (v, n), got in sorted(parts.items()):
        if len(got) == n and all(i in got for i in range(1, n + 1)):
            # smallest complete part-count wins (any complete set is a
            # full snapshot; taking exactly one keeps replay single)
            complete_parts.setdefault(
                v, [got[i] for i in range(1, n + 1)]
            )
    # keep at most one representation per version: classic preferred,
    # then a complete multi-part set, then a V2 manifest
    for v in set(out) | set(complete_parts):
        names = out.get(v, [])
        classics = [x for x in names if classic_re.match(x)]
        if classics:
            out[v] = classics[:1]
        elif v in complete_parts:
            out[v] = complete_parts[v]
        else:
            out[v] = names[:1]
    return out


def _checkpoint_files(log: str, version: int) -> list[str]:
    """Full paths of every file making up the checkpoint at ``version``
    — ONE file for classic/V2 manifests, ALL parts of a multi-part set
    (returning just the first part would silently drop the add actions
    carried by the others, ADVICE r6)."""
    found = _discover_checkpoints(log).get(version)
    if not found:
        raise FileNotFoundError(
            f"no checkpoint files for version {version} in {log}"
        )
    return [os.path.join(log, f) for f in found]


def resolve_snapshot(path: str, version_as_of: int | None = None) -> dict:
    """Replay the log; returns ``{"version", "meta", "files"}`` where
    ``files`` maps relative data-file path → its add action."""
    log = _log_dir(path)
    if not os.path.isdir(log):
        raise FileNotFoundError(f"no _delta_log at {path}")
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log)
        if len(f) == 25 and f.endswith(".json") and f[:20].isdigit()
    )
    if (
        not versions
        and version_as_of is None
        and not os.path.exists(os.path.join(log, "_last_checkpoint"))
        and not _discover_checkpoints(log)
        and not _discover_compactions(log)
    ):
        # a checkpoint alone is a complete snapshot (log cleanup may
        # have removed every JSON commit it covers — and
        # _last_checkpoint is an optimization, not a requirement, so
        # listing-discovered checkpoints count too)
        raise FileNotFoundError(f"empty _delta_log at {path}")

    state: dict = {
        "files": {},
        "meta": None,
        "protocol": None,
        "txns": {},
        "domains": {},
    }
    start = 0
    last_ckpt = os.path.join(log, "_last_checkpoint")
    if os.path.exists(last_ckpt):
        with open(last_ckpt) as fh:
            ckpt_info = json.load(fh)
        ckpt_version = ckpt_info["version"]
        # time travel to before the checkpoint replays raw JSONs instead
        if version_as_of is None or version_as_of >= ckpt_version:
            n_parts = ckpt_info.get("parts")
            if n_parts:
                # multi-part layout (PROTOCOL.md): the state is split
                # across {version}.checkpoint.{i}.{n}.parquet files —
                # actions are disjoint, so part order is irrelevant
                for i in range(1, n_parts + 1):
                    _read_checkpoint(
                        state,
                        os.path.join(
                            log,
                            f"{ckpt_version:020d}.checkpoint."
                            f"{i:010d}.{n_parts:010d}.parquet",
                        ),
                    )
            else:
                classic = os.path.join(
                    log, f"{ckpt_version:020d}.checkpoint.parquet"
                )
                if os.path.exists(classic):
                    _read_checkpoint(state, classic)
                else:
                    # _last_checkpoint's "parts" field is OPTIONAL — a
                    # third-party writer may omit it even for a
                    # multi-part checkpoint, so apply EVERY file of the
                    # discovered representation at this version (V2
                    # manifest or full part set), not just the first
                    for f in _checkpoint_files(log, ckpt_version):
                        _read_checkpoint(state, f)
            start = ckpt_version + 1
    else:
        # _last_checkpoint is an optimization, not a requirement —
        # discover the newest usable checkpoint from the file listing
        found = _discover_checkpoints(log)
        for ckpt_version in sorted(found, reverse=True):
            if version_as_of is not None and version_as_of < ckpt_version:
                continue
            for f in found[ckpt_version]:
                _read_checkpoint(state, os.path.join(log, f))
            start = ckpt_version + 1
            break

    compacts = _discover_compactions(log)
    target = version_as_of if version_as_of is not None else max(
        versions + [e for _s, e in compacts] + [start - 1]
    ) if (versions or compacts) else start - 1
    vset = set(versions)
    v = start
    while v <= target:
        # prefer a log-compaction file covering [v, b<=target]: one
        # read replaces b-v+1 commit reads (PROTOCOL.md Log Compaction)
        cov = max(
            (e for s, e in compacts if s == v and e <= target),
            default=None,
        )
        if cov is not None:
            with open(
                os.path.join(
                    log, f"{v:020d}.{cov:020d}.compacted.json"
                )
            ) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        _apply_action(state, json.loads(line))
            v = cov + 1
            continue
        commit = os.path.join(log, f"{v:020d}.json")
        if v in vset:
            with open(commit) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        _apply_action(state, json.loads(line))
        v += 1
    c_ends = [e for _s, e in compacts]
    # `start - 1` is the applied checkpoint's version (-1 when none):
    # a checkpoint-only log — every covered JSON cleaned — still
    # resolves AT the checkpointed version (the snapshot IS the
    # checkpoint); only versions beyond every retained artifact are
    # unresolvable (ADVICE r14 follow-through)
    if version_as_of is not None and version_as_of > max(
        versions + c_ends + [start - 1]
    ):
        raise FileNotFoundError(
            f"version {version_as_of} not present in {log}"
        )
    return {
        "version": target,
        "meta": state["meta"],
        "files": state["files"],
        "protocol": state["protocol"],
        "txns": state["txns"],
        "domains": state.get("domains", {}),
    }


_SKIP_OPS = ("=", "<", "<=", ">", ">=")


def _file_can_skip(
    add: dict, filters: list[tuple], part_cols: list[str]
) -> bool:
    """True when the file provably contains NO row satisfying the
    conjunction of ``filters`` — judged from the add action's
    partitionValues (equality on partition columns) and its ``stats``
    min/max/nullCount ranges (real Delta's data-skipping contract:
    stats are bounds, so only impossibility ever skips; absent or
    non-comparable stats never do)."""
    stats = add.get("stats")
    s = json.loads(stats) if isinstance(stats, str) else (stats or {})
    minv = s.get("minValues") or {}
    maxv = s.get("maxValues") or {}
    nullc = s.get("nullCount") or {}
    nrec = s.get("numRecords")
    for col, op, val in filters:
        if col in part_cols:
            pv = (add.get("partitionValues") or {}).get(col)
            if op == "=" and pv is not None and str(val) != pv:
                return True
            continue
        # an all-null column satisfies no comparison
        if nrec is not None and nullc.get(col) == nrec and nrec > 0:
            return True
        lo, hi = minv.get(col), maxv.get(col)
        if lo is None or hi is None:
            continue
        v = _stats_jsonable(val)
        if v is None:
            continue
        try:
            impossible = (
                (op == "=" and (v < lo or v > hi))
                or (op == "<" and lo >= v)
                or (op == "<=" and lo > v)
                or (op == ">" and hi <= v)
                or (op == ">=" and hi < v)
            )
        except TypeError:
            continue
        if impossible:
            return True
    return False


def _commit_info_of(log: str, version: int) -> dict | None:
    """The commitInfo dict of ``version``'s JSON commit, or None when
    the file is cleaned up / carries none. O(1) — used per commit for
    the in-commit-timestamp monotonic chain."""
    f = os.path.join(log, f"{version:020d}.json")
    try:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("commitInfo") is not None:
                    return a["commitInfo"]
    except FileNotFoundError:
        return None
    return None


def _commit_timestamp(log: str, version: int) -> float:
    """Commit time in epoch seconds. Preference order matches real
    Delta: commitInfo.inCommitTimestamp (the ICT table feature —
    robust to file copies/rewrites that disturb mtimes), then
    commitInfo.timestamp (ms), then the commit file's mtime (modulo
    Delta's monotonicity adjustment; file mtimes on one filesystem are
    already monotone per writer).

    A commit whose JSON has been CLEANED (post-checkpoint log cleanup
    or post-compaction source removal — both supported by this engine)
    still resolves: fall back to the mtime of the artifact that now
    covers the version — a checkpoint at exactly this version, else
    the narrowest compaction file containing it — CLAMPED to the next
    retained commit's own timestamp. The artifact is written at/after
    the commit, so its raw mtime can postdate later retained commits
    (a checkpoint or compaction written while newer commits already
    exist would stamp its covered versions with a LATER time than
    version+k's commitInfo.timestamp — ADVICE r14); min(artifact
    mtime, next retained commit's time) keeps the proxy non-decreasing
    across increasing _commit_version. Without the fallback at all, a
    snapshot-default readChangeFeed stream over a cleaned log crashed
    on its first batch (ADVICE r13)."""
    ci = _commit_info_of(log, version)
    if ci is not None:
        if ci.get("inCommitTimestamp"):
            return ci["inCommitTimestamp"] / 1000.0
        if ci.get("timestamp"):
            return ci["timestamp"] / 1000.0
    try:
        return os.path.getmtime(
            os.path.join(log, f"{version:020d}.json")
        )
    except FileNotFoundError:
        pass

    def clamp(artifact_mtime: float) -> float:
        nxt = _next_retained_commit_ts(log, version)
        return (
            artifact_mtime if nxt is None else min(artifact_mtime, nxt)
        )

    try:
        return clamp(
            max(
                os.path.getmtime(f)
                for f in _checkpoint_files(log, version)
            )
        )
    except (FileNotFoundError, ValueError):
        pass
    for s, e in sorted(
        _discover_compactions(log), key=lambda r: r[1] - r[0]
    ):
        if s <= version <= e:
            try:
                return clamp(
                    os.path.getmtime(
                        os.path.join(
                            log, f"{s:020d}.{e:020d}.compacted.json"
                        )
                    )
                )
            except FileNotFoundError:
                continue
    raise FileNotFoundError(
        f"commit {version:020d}.json of {log} is cleaned and no "
        "checkpoint or compaction file covers the version"
    )


def _next_retained_commit_ts(log: str, version: int) -> float | None:
    """Timestamp of the SMALLEST retained commit JSON with version >
    ``version``, resolved directly (commitInfo ICT/timestamp, else the
    JSON's own mtime — never the artifact fallback, which is what this
    bound exists to clamp). None when no later commit JSON is retained
    (the cleaned version is the newest — nothing to stay below)."""
    best: int | None = None
    try:
        names = os.listdir(log)
    except FileNotFoundError:
        return None
    for n in names:
        if len(n) == 25 and n.endswith(".json") and n[:20].isdigit():
            v = int(n[:20])
            if v > version and (best is None or v < best):
                best = v
    if best is None:
        return None
    ci = _commit_info_of(log, best)
    if ci is not None:
        if ci.get("inCommitTimestamp"):
            return ci["inCommitTimestamp"] / 1000.0
        if ci.get("timestamp"):
            return ci["timestamp"] / 1000.0
    try:
        return os.path.getmtime(os.path.join(log, f"{best:020d}.json"))
    except FileNotFoundError:
        return None


# legacy minWriterVersion → the capabilities it implied; an upgrade to
# table features (writer v7) must list them explicitly (PROTOCOL.md)
_LEGACY_WRITER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}


def _schema_type_features(schema) -> set[str]:
    """Table features the schema's TYPES require a reader to declare
    (PROTOCOL.md): ``variantType`` for VARIANT columns and
    ``timestampNtz`` for TIMESTAMP_NTZ — at any nesting depth. A
    writer creating or evolving a table into these types must commit
    a features protocol listing them, or spec-conformant readers
    would misread the physical encodings silently."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        TimestampNTZType,
    )

    try:
        from pyspark.sql.types import VariantType
    except ImportError:  # pragma: no cover - older Spark
        VariantType = ()  # type: ignore[assignment]

    out: set[str] = set()

    def walk(dt) -> None:
        if VariantType and isinstance(dt, VariantType):
            out.add("variantType")
        elif isinstance(dt, TimestampNTZType):
            out.add("timestampNtz")
        elif isinstance(dt, StructType):
            for f in dt.fields:
                walk(f.dataType)
        elif isinstance(dt, ArrayType):
            walk(dt.elementType)
        elif isinstance(dt, MapType):
            walk(dt.keyType)
            walk(dt.valueType)

    walk(schema)
    return out


def _type_feature_upgrade(proto: dict | None, schema) -> dict | None:
    """Protocol action adopting any type-required features the
    evolved ``schema`` needs that ``proto`` does not yet declare
    (None when nothing is missing). Legacy implied writer features
    are preserved through the v7 upgrade, same as every other
    feature-adoption path."""
    feats = _schema_type_features(schema)
    if not feats:
        return None
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if feats <= rf and feats <= wf:
        return None
    wv = proto.get("minWriterVersion", 2)
    if wv < 7:
        for lv in range(2, wv + 1):
            wf |= _LEGACY_WRITER_FEATURES.get(lv, set())
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf | feats),
        "writerFeatures": sorted(wf | feats),
    }


def _ict_enabled_in_conf(meta: dict | None) -> bool:
    conf = (meta or {}).get("configuration") or {}
    return (
        str(conf.get("delta.enableInCommitTimestamps", "false")).lower()
        == "true"
    )


def _apply_in_commit_timestamp(
    path: str, log: str, version: int, actions: list[dict]
) -> list[dict]:
    """Decorate a commit with ``inCommitTimestamp`` when the table (or
    this very commit's metaData) enables the ICT table feature —
    Delta's monotonic commit clock: ``max(now, prev_ict + 1)``, so
    timestamp time travel survives file copies and mtime skew.

    Spec obligations handled here, centrally for every write path:
    commitInfo becomes the FIRST action and carries the timestamp; the
    ENABLING commit records ``delta.inCommitTimestampEnablement
    Version/Timestamp`` provenance in its metaData and adopts the
    ``inCommitTimestamp`` writer feature (protocol writer v7, legacy
    implied features preserved)."""
    import time as _time

    meta_a = next(
        (a["metaData"] for a in actions if a.get("metaData")), None
    )
    prev_ci = _commit_info_of(log, version - 1) if version > 0 else None
    if meta_a is not None:
        enabled = _ict_enabled_in_conf(meta_a)
    elif version == 0:
        enabled = False
    else:
        # enablement is a table PROPERTY: the resolved snapshot's
        # metaData configuration decides, never the previous commit's
        # commitInfo — an intervening commit whose commitInfo lacks
        # the key (external/older writer) must not silently disable
        # ICT for all later commits. prev_ci is consulted only for
        # the prev-ICT value in the monotonic max below.
        enabled = _ict_enabled_in_conf(
            resolve_snapshot(path).get("meta")
        )
    if not enabled:
        return actions

    prev_ict = (prev_ci or {}).get("inCommitTimestamp")
    ict = max(
        int(_time.time() * 1000),
        (prev_ict + 1) if prev_ict else 0,
    )
    ci_action = next(
        (a for a in actions if a.get("commitInfo") is not None), None
    )
    if ci_action is None:
        ci_action = {"commitInfo": {}}
        actions = [ci_action, *actions]
    ci_action["commitInfo"]["inCommitTimestamp"] = ict

    if prev_ict is None and meta_a is not None:
        # first enablement: provenance properties + feature adoption
        conf = dict(meta_a.get("configuration") or {})
        conf.setdefault(
            "delta.inCommitTimestampEnablementVersion", str(version)
        )
        conf.setdefault(
            "delta.inCommitTimestampEnablementTimestamp", str(ict)
        )
        meta_a["configuration"] = conf
        proto_a = next(
            (a for a in actions if a.get("protocol")), None
        )
        if proto_a is None:
            proto = (resolve_snapshot(path).get("protocol") or {}) if (
                version > 0
            ) else {}
            proto_a = {
                "protocol": {
                    "minReaderVersion": proto.get("minReaderVersion", 1),
                    "minWriterVersion": proto.get("minWriterVersion", 2),
                    **(
                        {"readerFeatures": proto["readerFeatures"]}
                        if proto.get("readerFeatures")
                        else {}
                    ),
                    **(
                        {"writerFeatures": proto["writerFeatures"]}
                        if proto.get("writerFeatures")
                        else {}
                    ),
                }
            }
            actions = [proto_a, *actions]
        p = proto_a["protocol"]
        if (
            p.get("minWriterVersion", 2) < 7
            or "inCommitTimestamp"
            not in (p.get("writerFeatures") or [])
        ):
            wf = set(p.get("writerFeatures") or [])
            wv = p.get("minWriterVersion", 2)
            if wv < 7:
                for lv in range(2, wv + 1):
                    wf |= _LEGACY_WRITER_FEATURES.get(lv, set())
            p["minWriterVersion"] = 7
            p["writerFeatures"] = sorted(wf | {"inCommitTimestamp"})

    # spec: with ICT enabled, commitInfo must be the first action
    others = [a for a in actions if a is not ci_action]
    return [ci_action, *others]


ROW_TRACKING_DOMAIN = "delta.rowTracking"
CLUSTERING_DOMAIN = "delta.clustering"


def clustering_columns(snap: dict) -> list[str]:
    """The table's clustering columns from the ``delta.clustering``
    metadata domain (PROTOCOL.md Clustered Table: configuration
    ``{"clusteringColumns": [["c1"], ["c2"]]}`` — one inner list per
    column path; this engine supports top-level columns). Empty when
    the table is not clustered."""
    cfg = (snap.get("domains") or {}).get(CLUSTERING_DOMAIN)
    if not cfg:
        return []
    try:
        paths = json.loads(cfg).get("clusteringColumns") or []
        return [p[0] for p in paths if p]
    except (ValueError, TypeError, IndexError):
        return []


def set_clustering_columns(
    spark: SparkSession, path: str, cols: list[str]
) -> int:
    """ALTER TABLE ... CLUSTER BY: record ``cols`` as the table's
    clustering columns in the ``delta.clustering`` metadata domain and
    adopt the ``clustering`` + ``domainMetadata`` writer features
    (writer v7, legacy implied features preserved). Declarative only —
    data is re-clustered by the next :func:`optimize_delta_log`, which
    picks these columns up automatically (Delta's own OPTIMIZE
    behavior on clustered tables). 1-2 columns (the engine's
    interleave limit); partition columns are rejected. Returns the
    committed version."""
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    if not 1 <= len(cols) <= 2:
        raise ValueError(
            "clustering supports one or two columns in this engine"
        )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = {f.name for f in schema.fields}
    missing = [c for c in cols if c not in names]
    if missing:
        raise KeyError(f"no such columns {missing} on {path}")
    part_cols = meta.get("partitionColumns") or []
    if any(c in part_cols for c in cols):
        raise ValueError("cannot cluster by a partition column")

    proto = snap.get("protocol") or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    wf = set(proto.get("writerFeatures") or [])
    wv = proto.get("minWriterVersion", 2)
    need_upgrade = not {"clustering", "domainMetadata"} <= wf
    if need_upgrade and wv < 7:
        for lv in range(2, wv + 1):
            wf |= _LEGACY_WRITER_FEATURES.get(lv, set())
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        **(
            {"readerFeatures": proto["readerFeatures"]}
            if proto.get("readerFeatures")
            else {}
        ),
        "writerFeatures": sorted(
            wf | {"clustering", "domainMetadata"}
        ),
    }

    def build(version: int) -> list[dict]:
        actions: list[dict] = []
        if need_upgrade:
            actions.append({"protocol": new_proto})
        actions.append(
            {
                "domainMetadata": {
                    "domain": CLUSTERING_DOMAIN,
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cols]}
                    ),
                    "removed": False,
                }
            }
        )
        actions.append(
            {
                "commitInfo": {
                    "operation": "CLUSTER BY",
                    "operationParameters": {
                        "clusterBy": json.dumps(cols)
                    },
                }
            }
        )
        return actions

    return _commit_version(path, build, read_version=snap["version"])
# physical-only materialized columns (present in data files written by
# OPTIMIZE on row-tracked tables, never part of the logical schema)
ROW_ID_PHYS = "_rowtracking_row_id"
ROW_CV_PHYS = "_rowtracking_commit_version"


def _row_tracking_enabled(meta: dict | None) -> bool:
    conf = (meta or {}).get("configuration") or {}
    return (
        str(conf.get("delta.enableRowTracking", "false")).lower()
        == "true"
    )


def _rt_high_water_mark(domains: dict) -> int:
    cfg = domains.get(ROW_TRACKING_DOMAIN)
    if not cfg:
        return -1
    try:
        return int(json.loads(cfg).get("rowIdHighWaterMark", -1))
    except (ValueError, TypeError):
        return -1


def _latest_meta(path: str) -> dict | None:
    """The snapshot's metaData WITHOUT accumulating file state: walk
    commit JSONs newest-first and return the first metaData action
    (metaData commits are rare, so this is usually O(1) files);
    fall back to a full replay when none is retained (checkpointed).
    Keeps the per-commit row-tracking enablement check from costing a
    full log replay on every write to an untracked table."""
    log = _log_dir(path)
    try:
        versions = _list_versions(log)
    except FileNotFoundError:
        return None
    for v in reversed(versions):
        try:
            with open(os.path.join(log, f"{v:020d}.json")) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        a = json.loads(line)
                        if a.get("metaData"):
                            return a["metaData"]
        except FileNotFoundError:
            break
    try:
        return resolve_snapshot(path).get("meta")
    except FileNotFoundError:
        return None


def _apply_row_tracking(
    path: str, version: int, actions: list[dict]
) -> list[dict]:
    """Decorate a commit with row-tracking bookkeeping when the table
    enables the feature (PROTOCOL.md "Row Tracking"): every NEW add
    action gets ``baseRowId`` (first fresh row id of the file — row i
    holds id baseRowId + i) and ``defaultRowCommitVersion``, and the
    ``delta.rowTracking`` domain's ``rowIdHighWaterMark`` advances by
    the file's row count. A re-added file whose PRE-COMMIT snapshot
    entry already carries a ``baseRowId`` (a DELETE attaching a
    deletion vector) keeps that id — its surviving rows keep their
    ids, the stability contract. Preservation is decided against the
    snapshot, not the staged dict: a commit retry after a lost
    append race re-enters here with dicts mutated by the failed
    attempt, and those must be RE-assigned against the fresh
    high-water mark, not skipped."""
    adds = [a["add"] for a in actions if a.get("add")]
    if not adds:
        return actions
    meta_a = next(
        (a["metaData"] for a in actions if a.get("metaData")), None
    )
    if version == 0:
        enabled = _row_tracking_enabled(meta_a)
        hwm = -1
        prior_files: dict = {}
    else:
        # cheap enablement gate first: untracked tables (the common
        # case) must not pay a full log replay per commit
        enabled = _row_tracking_enabled(
            meta_a if meta_a is not None else _latest_meta(path)
        )
        if not enabled:
            return actions
        snap = resolve_snapshot(path)
        hwm = _rt_high_water_mark(snap.get("domains") or {})
        prior_files = snap["files"]
    if not enabled:
        return actions
    assigned = False
    for add in adds:
        prior = prior_files.get(add["path"])
        if prior is not None and "baseRowId" in prior:
            add["baseRowId"] = prior["baseRowId"]
            add["defaultRowCommitVersion"] = prior.get(
                "defaultRowCommitVersion", version
            )
            continue
        n = _file_num_records(path, add["path"], add)
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += n
        assigned = True
    if not assigned:
        return actions
    actions.append(
        {
            "domainMetadata": {
                "domain": ROW_TRACKING_DOMAIN,
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": hwm}
                ),
                "removed": False,
            }
        }
    )
    return actions


def enable_row_tracking(path: str) -> int:
    """Turn on the row-tracking table feature: every subsequent add
    gets fresh row ids (``baseRowId`` + position), the high-water mark
    lives in the ``delta.rowTracking`` metadata domain, and OPTIMIZE
    preserves ids by materializing them into the rewritten files.
    Adopts writer features ``rowTracking`` + ``domainMetadata``
    (writer v7, legacy implied features preserved) and records the
    materialized column names in the table configuration. Idempotent."""
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    if _row_tracking_enabled(meta):
        return snap["version"]
    new_meta = dict(meta)
    conf = dict(new_meta.get("configuration") or {})
    conf["delta.enableRowTracking"] = "true"
    conf.setdefault(
        "delta.rowTracking.materializedRowIdColumnName", ROW_ID_PHYS
    )
    conf.setdefault(
        "delta.rowTracking.materializedRowCommitVersionColumnName",
        ROW_CV_PHYS,
    )
    new_meta["configuration"] = conf

    proto = snap.get("protocol") or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    wf = set(proto.get("writerFeatures") or [])
    wv = proto.get("minWriterVersion", 2)
    if wv < 7:
        for lv in range(2, wv + 1):
            wf |= _LEGACY_WRITER_FEATURES.get(lv, set())
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        **(
            {"readerFeatures": proto["readerFeatures"]}
            if proto.get("readerFeatures")
            else {}
        ),
        "writerFeatures": sorted(
            wf | {"rowTracking", "domainMetadata"}
        ),
    }

    def build(_v: int) -> list[dict]:
        # BACKFILL: re-add every live file (dataChange=false, content
        # untouched) so _apply_row_tracking assigns each a baseRowId in
        # this same commit — pre-enablement rows get ids immediately,
        # the spec's backfill step without a data rewrite
        readds = [
            {"add": {**add, "dataChange": False}}
            for _rel, add in sorted(snap["files"].items())
        ]
        return [
            {"protocol": new_proto},
            {"metaData": new_meta},
            *readds,
            {
                "commitInfo": {
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": json.dumps(
                            {"delta.enableRowTracking": "true"}
                        )
                    },
                }
            },
        ]

    return _commit_version(path, build, read_version=snap["version"])


def read_delta_row_ids(
    spark: SparkSession, path: str, version_as_of: int | None = None
) -> DataFrame:
    """Snapshot read exposing Delta row tracking: the table's columns
    plus ``_row_id`` and ``_row_commit_version``. Fresh ids derive as
    ``baseRowId + row position``; files rewritten by OPTIMIZE carry
    MATERIALIZED id/version columns which take precedence (that is
    how ids survive compaction). The base map is a broadcast
    (file → baseRowId) join keyed on the scan's hidden file metadata
    — one scan, no extra shuffle of the data."""
    snap = resolve_snapshot(path, version_as_of=version_as_of)
    meta = snap["meta"]
    if not _row_tracking_enabled(meta):
        raise DeltaProtocolError(
            f"row tracking is not enabled on {path}"
        )
    conf = meta.get("configuration") or {}
    id_col = conf.get(
        "delta.rowTracking.materializedRowIdColumnName", ROW_ID_PHYS
    )
    cv_col = conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName",
        ROW_CV_PHYS,
    )
    df = _scan_adds(
        spark,
        path,
        meta,
        snap["files"],
        keep_positions=True,
        extra_phys_cols=[id_col, cv_col],
    )
    base = _row_base_map(spark, snap["files"])
    out_cols = [
        f.name
        for f in StructType.fromJson(
            json.loads(meta["schemaString"])
        ).fields
    ]
    return (
        df.join(F.broadcast(base), _DV_PATH)
        .select(
            *out_cols,
            F.coalesce(
                F.col(id_col),
                F.col("__base_rid") + F.col(_DV_RID),
            ).alias("_row_id"),
            F.coalesce(F.col(cv_col), F.col("__dflt_rcv")).alias(
                "_row_commit_version"
            ),
        )
    )


def _row_base_map(spark: SparkSession, files: dict) -> DataFrame:
    """(file path, baseRowId, defaultRowCommitVersion) per add action,
    keyed like the scan's ``_DV_PATH`` column for a broadcast join."""
    return spark.createDataFrame(
        [
            (rel, add.get("baseRowId"), add.get("defaultRowCommitVersion"))
            for rel, add in files.items()
        ],
        f"{_DV_PATH} string, __base_rid long, __dflt_rcv long",
    )


def version_at_timestamp(path: str, ts: float) -> int:
    """Greatest version whose commit time is ≤ ``ts`` (epoch seconds)
    — Delta's ``timestampAsOf`` resolution. Raises if ``ts`` predates
    the earliest RETAINED commit (cleaned log ranges cannot be
    timestamp-resolved, same as real Delta)."""
    log = _log_dir(path)
    versions = _list_versions(log)
    if not versions:
        raise FileNotFoundError(f"no commits at {path}")
    best = None
    for v in versions:
        if _commit_timestamp(log, v) <= ts:
            best = v
    if best is None:
        earliest = _commit_timestamp(log, versions[0])
        raise ValueError(
            f"timestamp {ts} predates the earliest retained commit "
            f"of {path} (version {versions[0]} at {earliest})"
        )
    return best


def _filter_cond(filters: list[tuple]):
    """The conjunction of ``(column, op, value)`` filter triples (op in
    ``= < <= > >=``) as one Column."""

    def one(col: str, op: str, val):
        c, v = F.col(col), F.lit(val)
        return {"=": c == v, "<": c < v, "<=": c <= v, ">": c > v, ">=": c >= v}[op]

    return reduce(lambda a, b: a & b, [one(*f) for f in filters])


def read_delta(
    spark: SparkSession,
    path: str,
    version_as_of: int | None = None,
    filters: list[tuple] | None = None,
    timestamp_as_of: float | None = None,
) -> DataFrame:
    """Read a Delta table by pure log replay (no delta-spark).

    The snapshot's schema comes from the log's ``metaData.schemaString``
    (a Spark StructType JSON — public format); partition columns are
    reattached from each file's ``partitionValues`` and cast to their
    declared types, so the result matches what Delta's own reader
    returns. ``timestamp_as_of`` (epoch seconds) time-travels to the
    last commit at or before that instant (Delta's ``timestampAsOf``);
    mutually exclusive with ``version_as_of``.

    ``filters`` — an optional conjunction of ``(column, op, value)``
    triples (op in ``= < <= > >=``) — is applied BOTH as file-level
    data skipping (files whose logged min/max stats or partitionValues
    prove the predicate empty are never handed to the scan — Delta's
    data-skipping behavior) and as an ordinary DataFrame filter, so the
    result equals read-then-filter while the I/O drops to the
    surviving files."""
    if timestamp_as_of is not None:
        if version_as_of is not None:
            raise ValueError(
                "version_as_of and timestamp_as_of are mutually "
                "exclusive"
            )
        version_as_of = version_at_timestamp(path, timestamp_as_of)
    snap = resolve_snapshot(path, version_as_of)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    mapping = _column_mapping(meta, schema)  # logical → physical
    phys = lambda c: mapping.get(c, c)  # noqa: E731
    files = snap["files"]
    if filters:
        for f in filters:
            if len(f) != 3 or f[1] not in _SKIP_OPS:
                raise ValueError(f"bad filter triple: {f!r}")
        # stats and partitionValues are keyed by PHYSICAL names
        phys_filters = [(phys(c), op, v) for c, op, v in filters]
        phys_parts = [phys(c) for c in part_cols]
        files = {
            rel: add
            for rel, add in files.items()
            if not _file_can_skip(add, phys_filters, phys_parts)
        }

    df = _scan_adds(spark, path, meta, files)
    return df.filter(_filter_cond(filters)) if filters else df


# helper columns for deletion-vector subtraction — stripped before the
# scan result leaves _scan_adds
_DV_PATH, _DV_RID = "__dv_file_path", "__dv_row_index"

_HIVE_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_.-"
)


def _hive_layout_consistent(files: dict, part_cols: list[str]) -> bool:
    """True when every live file's directory is exactly the hive path
    its logged partitionValues imply (``col=value/...``), using only
    characters that hive stores unescaped — the precondition for the
    single-basePath fast scan. Values needing URL-escaping (spaces,
    colons, ...) or files parked outside their hive directory fall
    back to the grouped per-tuple read, which trusts partitionValues
    alone."""
    if any(set(c) - _HIVE_SAFE for c in part_cols):
        return False
    for rel, add in files.items():
        pv = add.get("partitionValues") or {}
        comps = []
        for c in part_cols:
            v = pv.get(c)
            if v is None:
                comps.append(f"{c}=__HIVE_DEFAULT_PARTITION__")
            elif v and not set(v) - _HIVE_SAFE:
                comps.append(f"{c}={v}")
            else:
                return False
        if os.path.dirname(rel) != "/".join(comps):
            return False
    return True


def _physical_layout(fpath: str) -> dict[int, str]:
    """parquet field id → physical column name, from the file's footer
    schema (pyarrow surfaces the id as ``PARQUET:field_id`` field
    metadata). O(footer) driver metadata — the same cost class as the
    per-file stats collection."""
    import pyarrow.parquet as pq

    out: dict[int, str] = {}
    for fld in pq.read_schema(fpath):
        fid = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            out[int(fid)] = fld.name
    return out


def _scan_adds(
    spark: SparkSession,
    path: str,
    meta: dict,
    files: dict,
    keep_positions: bool = False,
    extra_phys_cols: list[str] | None = None,
) -> DataFrame:
    """DataFrame over exactly the given add actions, with partition
    columns reattached at their declared types, name-mode column
    mapping resolved, and deletion-vector rows subtracted.
    ``keep_positions`` retains the ``_DV_PATH``/``_DV_RID`` physical
    position columns in the result: each row's data file, keyed by its
    add action's path (table-relative, or absolute for a shallow
    clone's files), and its row index within that file — the DELETE,
    UPDATE and MERGE writers find touched files and build deletion
    vectors from them. ``extra_phys_cols`` reads the named
    PHYSICAL-ONLY long columns (row tracking's materialized id /
    commit-version columns) — null-filled for files that lack them.

    Under id-mode column mapping the parquet column NAMES are
    unreliable — each file's authoritative id → physical-name map is
    read from its footer and files sharing a layout are scanned
    together with that layout's physical schema, then renamed to
    logical names. (Spark's native field-id resolution needs the
    session-global ``spark.sql.parquet.fieldId.read.enabled``, which
    is consulted at EXECUTION time — setting it here would leak
    id-mode behavior into every later parquet read in the session,
    ADVICE r6; footer-driven resolution keeps the scan self-contained.)
    """
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    mapping = _column_mapping(meta, schema)  # logical → physical
    phys = lambda c: mapping.get(c, c)  # noqa: E731
    field_ids = _field_ids(meta, schema)  # logical → id (id mode only)
    extra_fields = [
        StructField(c, LongType(), True)
        for c in (extra_phys_cols or [])
    ]

    def _id_layout(rel: str, data_fields: list[StructField]) -> tuple:
        """Per-file physical name for each logical data field, resolved
        by field id from the footer; ids absent from the file get a
        placeholder name Spark null-fills (a column added after the
        file was written)."""
        fmap = _physical_layout(os.path.join(path, rel))
        return tuple(
            fmap.get(field_ids.get(f.name, -1)) or f"__absent_{i}"
            for i, f in enumerate(data_fields)
        )

    # strip field metadata (Spark would otherwise carry the column-
    # mapping annotations into downstream schemas)
    clean_schema = StructType(
        [
            StructField(f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    if not files:
        # Honor the keep_positions contract even with zero live files:
        # callers (DELETE/MERGE writers) select _DV_PATH/_DV_RID
        # unconditionally, and an empty frame missing them raises
        # UNRESOLVED_COLUMN — bricking sync-merge after an empty sync.
        empty_schema = StructType(
            list(clean_schema.fields) + extra_fields
        )
        if keep_positions:
            empty_schema = StructType(
                list(empty_schema.fields)
                + [
                    StructField(_DV_PATH, StringType(), True),
                    StructField(_DV_RID, LongType(), True),
                ]
            )
        return spark.createDataFrame([], empty_schema)

    dv_files = {
        rel: add["deletionVector"]
        for rel, add in files.items()
        if add.get("deletionVector")
    }

    # every file is handed to the scan as ``root/<add path>``, so the
    # scan's ``_metadata.file_path`` is ``file:`` + that path with
    # Hadoop's URI escaping (space → %20, % → %25; + stays literal)
    root = os.path.abspath(path)
    prefix = root.rstrip("/") + "/"

    def _attach_meta(df: DataFrame) -> DataFrame:
        """Per-row physical position, for DV subtraction and touched-
        file tracking: the parquet scan's hidden ``_metadata`` struct
        yields the row index within the file and the file's URI, which
        is decoded and made relative to the table root — the add
        action's own path, so files sharing a basename across partition
        directories (one Spark task writing every partition) stay
        distinct."""
        if not (dv_files or keep_positions):
            return df
        local = F.url_decode(
            F.regexp_replace(
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ),
                r"\+",
                "%2B",
            )
        )
        return df.select(
            "*",
            F.when(
                local.startswith(prefix),
                local.substr(len(prefix) + 1, 1 << 30),
            )
            .otherwise(local)
            .alias(_DV_PATH),
            F.col("_metadata.row_index").alias(_DV_RID),
        )

    extras = [_DV_PATH, _DV_RID] if (dv_files or keep_positions) else []

    def _read_group(
        rels: list[str],
        data_fields: list[StructField],
        layout: tuple | None,
    ) -> DataFrame:
        """ONE scan over files sharing a physical layout, renamed to
        logical names: id mode passes the footer-derived ``layout``;
        name mode (layout=None) uses the metadata's physicalName map
        (identity when unmapped — the alias projection collapses)."""
        names = (
            layout
            if layout is not None
            else tuple(phys(f.name) for f in data_fields)
        )
        read_schema = StructType(
            [
                StructField(n, f.dataType, f.nullable)
                for n, f in zip(names, data_fields)
            ]
            + extra_fields
        )
        raw = _attach_meta(
            spark.read.schema(read_schema).parquet(
                *[os.path.join(root, r) for r in rels]
            )
        )
        return raw.select(
            *[
                F.col(f"`{n}`").alias(f.name)
                for n, f in zip(names, data_fields)
            ],
            *[F.col(f"`{f.name}`") for f in extra_fields],
            *extras,
        )

    if not part_cols:
        data_fields = list(clean_schema.fields)
        if field_ids:
            by_layout: dict[tuple, list[str]] = {}
            for rel in files:
                by_layout.setdefault(
                    _id_layout(rel, data_fields), []
                ).append(rel)
            out = reduce(
                DataFrame.unionByName,
                [
                    _read_group(rels, data_fields, layout)
                    for layout, rels in sorted(by_layout.items())
                ],
            )
        else:
            out = _read_group(list(files), data_fields, None)
    elif (
        not mapping
        and not field_ids
        and _hive_layout_consistent(files, part_cols)
    ):
        # FAST PATH — every live file sits in a hive directory that
        # agrees with its logged partitionValues (what this engine's
        # own writer and delta-spark both produce). One basePath scan
        # resolves the partition columns from the paths and casts them
        # to the declared schema types: a 10 000-partition read is ONE
        # DataFrame, not a 10 000-way driver-built union (the grouped
        # fallback below stays for arbitrary add-file layouts, which
        # the protocol permits).
        paths = [os.path.join(root, p) for p in files]
        out = _attach_meta(
            spark.read.schema(
                StructType(list(clean_schema.fields) + extra_fields)
            )
            .option("basePath", root)
            .parquet(*paths)
        ).select(
            *(
                [f.name for f in clean_schema.fields]
                + [f.name for f in extra_fields]
                + ([_DV_PATH, _DV_RID] if (dv_files or keep_positions) else [])
            )
        )
    else:
        # group files by (partition tuple, physical layout); one read
        # per group with the partition literals reattached at their
        # declared types (layout is only non-None under id mapping)
        data_fields = [
            f for f in clean_schema.fields if f.name not in part_cols
        ]
        by_part: dict[tuple, list[str]] = {}
        for rel, add in files.items():
            pv = add.get("partitionValues") or {}
            key = tuple(
                pv.get(phys(c), pv.get(c)) for c in part_cols
            )
            lay = _id_layout(rel, data_fields) if field_ids else None
            by_part.setdefault((key, lay), []).append(rel)
        types = {f.name: f.dataType for f in clean_schema.fields}
        out_cols = (
            [f.name for f in clean_schema.fields]
            + [f.name for f in extra_fields]
            + extras
        )
        frames = []
        for (key, lay), rels in sorted(
            by_part.items(),
            key=lambda kv: (
                tuple(map(str, kv[0][0])),
                tuple(map(str, kv[0][1] or ())),
            ),
        ):
            df = _read_group(rels, data_fields, lay)
            for c, v in zip(part_cols, key):
                lit = (
                    F.lit(None) if v is None else F.lit(v)
                ).cast(types[c]).alias(c)
                df = df.withColumn(c, lit)
            frames.append(df.select(*out_cols))
        out = reduce(DataFrame.unionByName, frames)

    if dv_files:
        out = _subtract_dvs(
            spark, path, dv_files, out, drop=not keep_positions
        )
    return out


def _subtract_dvs(
    spark: SparkSession,
    path: str,
    dv_files: dict,
    df: DataFrame,
    drop: bool = True,
) -> DataFrame:
    """Drop the rows flagged by each file's deletion vector: resolve
    every descriptor to its row indexes, build a (file path, row index)
    table keyed by each file's add-action path — the same key
    :func:`_scan_adds` derives from the scan's ``_metadata`` — and
    broadcast anti-join it against the scan on those position columns.

    Scale contract: DV resolution is O(total deleted rows) driver-side
    metadata — the same order as delta-spark's own broadcast of DV
    bitmaps to executors. Tables whose live DV cardinality has grown
    past tens of millions should be compacted
    (:func:`optimize_delta_log` materializes deletes and drops the
    DVs), exactly Delta's own OPTIMIZE guidance."""
    from medallion_delta_lake_spark.sources import deletion_vectors as _dv

    pairs = [
        (rel, int(idx))
        for rel, desc in sorted(dv_files.items())
        for idx in _dv.dv_row_indexes(path, desc)
    ]
    deleted = spark.createDataFrame(
        pairs, f"{_DV_PATH} string, {_DV_RID} bigint"
    )
    keep = df.join(
        F.broadcast(deleted),
        on=[_DV_PATH, _DV_RID],
        how="left_anti",
    )
    return keep.drop(_DV_PATH, _DV_RID) if drop else keep


def _discover_compactions(log: str) -> list[tuple[int, int]]:
    """(start, end) ranges of log-compaction files
    (``{start}.{end}.compacted.json`` — PROTOCOL.md Log Compaction)
    present in the log directory."""
    import re as _re

    if not os.path.isdir(log):
        return []
    pat = _re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
    out = []
    for f in os.listdir(log):
        m = pat.match(f)
        if m:
            out.append((int(m.group(1)), int(m.group(2))))
    return sorted(out)


def write_log_compaction(path: str, start: int, end: int) -> str:
    """Write a log-compaction file ``{start}.{end}.compacted.json``
    containing the RECONCILED actions of commits ``start..end``
    (PROTOCOL.md "Log Compaction Files"): per-path final add/remove
    disposition, last metaData/protocol, max txn per appId, last
    domainMetadata per domain. Readers substitute the one file for the
    whole commit range during replay — an O(1)-file fast path between
    checkpoints. The source commits remain authoritative (log cleanup
    is still governed by checkpoints); compaction only accelerates
    replay. Returns the file path."""
    log = _log_dir(path)
    if start > end:
        raise ValueError(f"invalid compaction range [{start}, {end}]")
    adds: dict[str, dict] = {}
    removes: dict[str, dict] = {}
    meta = None
    proto = None
    txns: dict[str, int] = {}
    domains: dict[str, dict] = {}
    for v in range(start, end + 1):
        commit = os.path.join(log, f"{v:020d}.json")
        if not os.path.exists(commit):
            raise FileNotFoundError(
                f"commit {v} of {path} missing; cannot compact a "
                "range with holes"
            )
        with open(commit) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("add"):
                    adds[a["add"]["path"]] = a["add"]
                    removes.pop(a["add"]["path"], None)
                elif a.get("remove"):
                    removes[a["remove"]["path"]] = a["remove"]
                    adds.pop(a["remove"]["path"], None)
                elif a.get("metaData"):
                    meta = a["metaData"]
                elif a.get("protocol"):
                    proto = a["protocol"]
                elif a.get("txn"):
                    t = a["txn"]
                    txns[t["appId"]] = max(
                        t["version"], txns.get(t["appId"], -1)
                    )
                elif a.get("domainMetadata"):
                    dm = a["domainMetadata"]
                    domains[dm["domain"]] = dm
    dest = os.path.join(
        log, f"{start:020d}.{end:020d}.compacted.json"
    )
    tmp = dest + ".tmp"
    with open(tmp, "w") as fh:
        if proto is not None:
            fh.write(json.dumps({"protocol": proto}) + "\n")
        if meta is not None:
            fh.write(json.dumps({"metaData": meta}) + "\n")
        for app, tv in sorted(txns.items()):
            fh.write(
                json.dumps({"txn": {"appId": app, "version": tv}})
                + "\n"
            )
        for _d, dm in sorted(domains.items()):
            fh.write(json.dumps({"domainMetadata": dm}) + "\n")
        for rel in sorted(removes):
            fh.write(json.dumps({"remove": removes[rel]}) + "\n")
        for rel in sorted(adds):
            fh.write(json.dumps({"add": adds[rel]}) + "\n")
    os.replace(tmp, dest)
    return dest


def _list_versions(log: str) -> list[int]:
    if not os.path.isdir(log):
        return []
    return sorted(
        int(f[:20])
        for f in os.listdir(log)
        # exactly %020d.json — log-compaction files
        # ({start}.{end}.compacted.json) also start with 20 digits
        if len(f) == 25 and f.endswith(".json") and f[:20].isdigit()
    )


def _rel_partition_values(rel: str, part_cols: list[str]) -> dict:
    """partitionValues from a hive path: ``col=value`` directories,
    with Hive's path escaping undone (Spark writes ``:`` as ``%3A`` and
    ``%`` as ``%25``, so a timestamp value round-trips)."""
    from urllib.parse import unquote

    vals: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            k, v = unquote(k), unquote(v)
            if k in part_cols:
                vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return vals


def _remove_action(rel: str, add: dict, now_ms: int) -> dict:
    """Remove action for a live add entry, carrying its deletionVector
    descriptor when present — the (path, dvId) pair is the file's
    identity under PROTOCOL.md's file-uniqueness contract, so a
    tombstone that drops the dvId would not match what readers keyed
    (ADVICE r6: every rewrite path must do what DELETE/OPTIMIZE do)."""
    r = {
        "path": rel,
        "deletionTimestamp": now_ms,
        "dataChange": True,
    }
    if add.get("deletionVector"):
        r["deletionVector"] = add["deletionVector"]
    return r


def _stats_jsonable(v):
    """Stats values in a form JSON can carry and whose natural ordering
    matches the column's (ISO dates/timestamps sort chronologically,
    numbers numerically); None for types we won't compare."""
    import datetime
    import decimal

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(
            v, datetime.datetime
        ) else v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (int, float, str, bool)):
        return v
    return None


def _parquet_file_stats(fpath: str) -> str | None:
    """Per-file column statistics in real Delta's ``add.stats`` JSON
    shape (numRecords / minValues / maxValues / nullCount), read from
    the parquet footer — metadata pages only, no data I/O. At cluster
    scale these would be collected from the write tasks; footer reads
    are the same O(files) driver metadata cost as the commit itself."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(fpath).metadata
    except Exception:
        return None
    minv: dict = {}
    maxv: dict = {}
    nullc: dict = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaves: top-level stats only
                continue
            st = col.statistics
            if st is None:
                continue
            if st.has_null_count:
                nullc[name] = nullc.get(name, 0) + st.null_count
            if st.has_min_max:
                try:
                    mn = _stats_jsonable(st.min)
                    mx = _stats_jsonable(st.max)
                except NotImplementedError:
                    # pyarrow cannot decode min/max for some types
                    # (e.g. DECIMAL) — skip the column, keep the rest
                    continue
                if mn is None or mx is None:
                    continue
                minv[name] = mn if name not in minv else min(minv[name], mn)
                maxv[name] = mx if name not in maxv else max(maxv[name], mx)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": minv,
            "maxValues": maxv,
            "nullCount": nullc,
        }
    )


def _stage_data_files(
    df: DataFrame, path: str, partition_by: list[str], now_ms: int
) -> list[dict]:
    """Write ``df``'s data files into the table directory (hive layout
    for partitioned tables) and return their add actions. Per the
    protocol the files are invisible to every reader until a commit
    references them, so a crash here leaves only vacuum-able orphans.
    Data files are written by Spark's normal distributed parquet writer;
    only O(files) metadata passes through the driver."""
    import shutil
    import uuid

    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)

    adds = []
    for root, _dirs, names in os.walk(staging):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            relbase = os.path.relpath(root, staging)
            relbase = "" if relbase == "." else relbase
            uniq = f"part-{uuid.uuid4().hex}.parquet"
            os.makedirs(os.path.join(path, relbase), exist_ok=True)
            src = os.path.join(root, name)
            rel = os.path.join(relbase, uniq) if relbase else uniq
            os.replace(src, os.path.join(path, rel))
            add = {
                "path": rel.replace(os.sep, "/"),
                "partitionValues": _rel_partition_values(
                    rel, partition_by
                ),
                "size": os.path.getsize(os.path.join(path, rel)),
                "modificationTime": now_ms,
                "dataChange": True,
            }
            stats = _parquet_file_stats(os.path.join(path, rel))
            if stats is not None:
                add["stats"] = stats
            adds.append({"add": add})
    shutil.rmtree(staging)
    return adds


def _stage_physical(
    df: DataFrame,
    path: str,
    meta: dict | None,
    part_cols: list[str],
    now_ms: int,
) -> list[dict]:
    """Stage data files under the table's PHYSICAL column names when
    column mapping is on (data files are keyed by physicalName — and,
    in id mode, by parquet field id, which Spark's writer emits from
    the ``parquet.field.id`` field metadata). A logical-named write
    into a mapped table would read back as nulls. No mapping → plain
    staging."""
    cols = _physical_select(df, meta)
    if cols is None:
        return _stage_data_files(df, path, list(part_cols), now_ms)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    mapping = _column_mapping(meta, schema)
    return _stage_data_files(
        df.select(*cols),
        path,
        [mapping.get(c, c) for c in part_cols],
        now_ms,
    )


def _physical_select(
    df: DataFrame, meta: dict | None, passthrough: tuple[str, ...] = ()
) -> list | None:
    """Select list renaming the frame's LOGICAL columns to the table's
    PHYSICAL names (carrying ``parquet.field.id`` metadata in id mode)
    per the metaData's column mapping; ``None`` when the table has no
    mapping. ``passthrough`` columns (CDF's ``_change_type``) keep
    their names."""
    if meta is None:
        return None
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    mapping = _column_mapping(meta, schema)
    if not mapping:
        return None
    ids = _field_ids(meta, schema)
    cols = []
    for c in df.columns:
        if c in passthrough:
            cols.append(F.col(c))
            continue
        phys = mapping.get(c, c)
        if c in ids:
            cols.append(
                F.col(c).alias(phys, metadata={"parquet.field.id": ids[c]})
            )
        else:
            cols.append(F.col(c).alias(phys))
    return cols


def _cdf_enabled(meta: dict | None) -> bool:
    """True when the table opted into the change data feed
    (``delta.enableChangeDataFeed`` table property — Delta's gate for
    writing ``_change_data`` files)."""
    conf = (meta or {}).get("configuration") or {}
    return str(conf.get("delta.enableChangeDataFeed", "")).lower() == "true"


def _stage_cdc_files(
    df: DataFrame, path: str, now_ms: int, meta: dict | None = None
) -> list[dict]:
    """Stage change-data-feed rows (table columns + ``_change_type``)
    under ``_change_data/`` and return the ``cdc`` actions for the
    commit (PROTOCOL.md "Add CDC File"). ``dataChange`` is false per
    spec — cdc files describe a commit, they are not table content.
    Under column mapping, files carry PHYSICAL column names (same
    path as :func:`_stage_physical`) so an external delta-spark CDF
    reader resolves them; :func:`table_changes` maps back to logical
    names. An empty frame stages nothing, so a no-op UPDATE/MERGE
    commits without cdc actions and the reader falls back to (empty)
    log derivation for that version."""
    import shutil
    import uuid

    cols = _physical_select(df, meta, passthrough=("_change_type",))
    if cols is not None:
        df = df.select(*cols)
    staging = os.path.join(path, f"_staging_cdc_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    cdir = os.path.join(path, "_change_data")
    actions: list[dict] = []
    for root, _dirs, names in os.walk(staging):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(root, name)
            if (
                os.path.getsize(src) > 0
                and _file_num_records_raw(src) == 0
            ):
                continue  # empty part file: nothing changed in it
            os.makedirs(cdir, exist_ok=True)
            uniq = f"cdc-{uuid.uuid4().hex}.parquet"
            os.replace(src, os.path.join(cdir, uniq))
            rel = f"_change_data/{uniq}"
            actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(path, rel)),
                        "dataChange": False,
                    }
                }
            )
    shutil.rmtree(staging)
    return actions


def _file_num_records_raw(fpath: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(fpath).metadata.num_rows


def _commit_version(
    path: str, build_actions, read_version: int | None = None
) -> int:
    """O_EXCL put-if-absent commit loop: pick the next version, ask
    ``build_actions(version)`` for the action list, and atomically
    create the commit file. Returns the committed version.

    ``read_version`` carries the snapshot version the transaction's
    actions were computed against. When None (pure appends — valid
    against ANY snapshot), a lost race re-resolves and retries the
    next version. When set (overwrite / MERGE — the remove set and the
    merged data both came from that snapshot), a concurrent commit
    landing first means our actions would erase the other writer's
    changes, so :class:`DeltaConcurrentWriteError` is raised instead —
    Delta's own conflict-detection contract."""
    log = os.path.join(path, "_delta_log")
    os.makedirs(log, exist_ok=True)
    while True:
        versions = _list_versions(log)
        latest = versions[-1] if versions else -1
        # log cleanup may have deleted every JSON a checkpoint covers —
        # the next version must still advance past the checkpoint (and
        # past any log-compaction range whose source JSONs are gone)
        last_ckpt = os.path.join(log, "_last_checkpoint")
        if os.path.exists(last_ckpt):
            with open(last_ckpt) as fh:
                latest = max(latest, json.load(fh)["version"])
        for _s, e in _discover_compactions(log):
            latest = max(latest, e)
        version = latest + 1
        if read_version is not None and version != read_version + 1:
            raise DeltaConcurrentWriteError(
                f"table at {path} advanced to version {version - 1} "
                f"after this transaction read version {read_version}; "
                "re-read and re-apply"
            )
        actions = _apply_in_commit_timestamp(
            path, log, version, build_actions(version)
        )
        actions = _apply_row_tracking(path, version, actions)
        commit = os.path.join(log, f"{version:020d}.json")
        try:
            fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            if read_version is not None:
                raise DeltaConcurrentWriteError(
                    f"concurrent commit won version {version} at {path} "
                    "during a non-append transaction; re-read and re-apply"
                ) from None
            continue  # append lost the race: re-resolve, retry next version
        with os.fdopen(fd, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        return version


def _check_rebase_safe(
    path: str,
    from_version: int,
    to_version: int,
    our_removed: set[str],
    add_conflicts,
) -> None:
    """Delta's optimistic-concurrency conflict check, file-granular:
    decide whether a transaction that read ``from_version`` may simply
    RE-ATTEMPT its already-built actions on top of ``to_version``
    (losing a commit race does not by itself invalidate a txn —
    delta-spark's ConflictChecker re-commits when the winner provably
    did not touch the loser's read/write set).

    Raises :class:`DeltaConcurrentWriteError` when any intervening
    commit (a) changed metaData or protocol (our validation and staged
    schema are stale), (b) removed a file we also remove (delete/
    delete — our rewrite would resurrect or double-drop rows), or
    (c) added a file for which ``add_conflicts(add_action)`` is True
    (the caller's predicate — e.g. "key-range stats overlap my source
    keys, so my matched/not-matched classification is stale").
    Returning normally means the rebase is serializable: the result
    equals running this txn strictly after the interveners."""
    log = os.path.join(path, "_delta_log")
    for v in range(from_version + 1, to_version + 1):
        commit = os.path.join(log, f"{v:020d}.json")
        try:
            with open(commit) as fh:
                actions = [json.loads(ln) for ln in fh if ln.strip()]
        except FileNotFoundError:  # cleaned up mid-race: cannot audit
            raise DeltaConcurrentWriteError(
                f"intervening commit {v} at {path} is unreadable; "
                "cannot prove rebase safety"
            ) from None
        for a in actions:
            if "metaData" in a or "protocol" in a:
                raise DeltaConcurrentWriteError(
                    f"concurrent metadata/protocol change at version "
                    f"{v} of {path}; re-read and re-apply"
                )
            if "remove" in a and a["remove"]["path"] in our_removed:
                raise DeltaConcurrentWriteError(
                    f"concurrent commit {v} removed "
                    f"{a['remove']['path']} which this transaction "
                    f"also rewrites at {path}"
                )
            if "add" in a and add_conflicts(a["add"]):
                raise DeltaConcurrentWriteError(
                    f"concurrent commit {v} added rows that may match "
                    f"this transaction's keys at {path}; re-read and "
                    "re-apply"
                )


def _commit_with_rebase(
    path: str,
    build,
    read_version: int,
    our_removed: set[str],
    add_conflicts,
    max_retries: int = 3,
) -> int:
    """Commit loop for non-append transactions: on losing the race,
    run the conflict check against the intervening commits and retry
    the SAME staged actions at the new head (bounded), raising only on
    a true read/write overlap."""
    rv = read_version
    for _ in range(max_retries + 1):
        try:
            return _commit_version(path, build, read_version=rv)
        except DeltaConcurrentWriteError:
            head = resolve_snapshot(path)["version"]
            _check_rebase_safe(path, rv, head, our_removed, add_conflicts)
            rv = head
    raise DeltaConcurrentWriteError(
        f"gave up after {max_retries} rebase attempts at {path}; "
        "the table is advancing faster than this writer can commit"
    )


def _validate_against_meta(
    df: DataFrame, meta: dict, partition_by: list[str], path: str
) -> None:
    """Reject writes whose schema or partitioning diverges from the
    table's committed metaData: read_delta trusts the log's
    schemaString, so a silent mismatch would null-fill drifted columns
    or leave new partition columns unreattached (ADVICE r5). Name→type
    equality, order-insensitive (the parquet scan resolves by name);
    nullability is not load-bearing for the read path."""
    committed = StructType.fromJson(json.loads(meta["schemaString"]))
    want = {f.name: f.dataType.simpleString() for f in committed.fields}
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if want != have:
        drift = sorted(
            set(want.items()) ^ set(have.items()), key=lambda kv: kv[0]
        )
        raise DeltaSchemaMismatchError(
            f"schema drift vs table at {path}: {drift}; use "
            "mode='overwrite' with overwrite_schema=True to evolve"
        )
    committed_parts = meta.get("partitionColumns") or []
    if list(partition_by) != committed_parts:
        raise DeltaSchemaMismatchError(
            f"table at {path} is partitioned by {committed_parts}, "
            f"not {list(partition_by)}; use mode='overwrite' with "
            "overwrite_schema=True to repartition"
        )


def _check_constraints(meta: dict) -> dict[str, str]:
    """constraint name → SQL expression, from the metaData's
    ``delta.constraints.<name>`` configuration keys (PROTOCOL.md
    CHECK constraints, writer version 3)."""
    conf = meta.get("configuration") or {}
    return {
        k[len("delta.constraints."):]: v
        for k, v in conf.items()
        if k.startswith("delta.constraints.")
    }


def _generated_columns(meta: dict) -> dict[str, str]:
    """column name → generation expression, from the schemaString's
    ``delta.generationExpression`` field metadata (PROTOCOL.md
    Generated Columns, writer version 4)."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    out = {}
    for f in schema.fields:
        expr = (f.metadata or {}).get("delta.generationExpression")
        if expr:
            out[f.name] = expr
    return out


def _apply_generated_columns(df: DataFrame, meta: dict) -> DataFrame:
    """Compute any generated column ABSENT from ``df`` (the writer
    fills it, real Delta's behavior); present columns are left for
    :func:`_enforce_invariants` to validate against their expression."""
    gen = _generated_columns(meta)
    if not gen:
        return df
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    types = {f.name: f.dataType for f in schema.fields}
    for col, expr in sorted(gen.items()):
        if col not in df.columns:
            df = df.withColumn(
                col, F.expr(expr).cast(types[col])
            )
    return df


def _column_defaults(meta: dict) -> dict[str, str]:
    """column name → default SQL expression, from the schemaString's
    ``CURRENT_DEFAULT`` field metadata (PROTOCOL.md Default Columns,
    table feature ``allowColumnDefaults``)."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    out = {}
    for f in schema.fields:
        expr = (f.metadata or {}).get("CURRENT_DEFAULT")
        if expr:
            out[f.name] = expr
    return out


def _apply_column_defaults(df: DataFrame, meta: dict) -> DataFrame:
    """Fill any default-bearing column ABSENT from ``df`` with its
    ``CURRENT_DEFAULT`` expression (the writer-side contract of the
    ``allowColumnDefaults`` feature — same fill-if-absent shape as
    :func:`_apply_generated_columns`, which runs first; a generated
    column cannot also carry a default)."""
    defaults = _column_defaults(meta)
    if not defaults:
        return df
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    types = {f.name: f.dataType for f in schema.fields}
    for col, expr in sorted(defaults.items()):
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr).cast(types[col]))
    return df


def set_column_default(
    spark: SparkSession, path: str, col: str, default_sql: str
) -> int:
    """ALTER TABLE ... ALTER COLUMN ... SET DEFAULT: record
    ``default_sql`` as the column's ``CURRENT_DEFAULT`` so later
    writes that omit the column fill it (existing files are untouched
    — absent columns in old parquet still read as NULL, delta-spark's
    behavior). The expression must be CONSTANT-FOLDABLE (no column
    references — real Delta's restriction); adopting the
    ``allowColumnDefaults`` table feature upgrades the protocol to
    writer v7 with the legacy implied features preserved. Returns the
    committed version."""
    # reject non-constant expressions: analyze against a zero-column
    # row — any column reference fails analysis
    probe = spark.range(1).drop("id")
    try:
        probe.select(F.expr(default_sql)).schema
    except Exception as ex:  # noqa: BLE001 — surface as ValueError
        raise ValueError(
            f"default for {col!r} must be a constant-foldable "
            f"expression with no column references: {default_sql!r} "
            f"({ex})"
        ) from None
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise KeyError(f"no column {col!r} on {path}")
    if col in (meta.get("partitionColumns") or []):
        raise ValueError(f"cannot set a default on partition column {col!r}")
    new_fields = []
    for f in schema.fields:
        if f.name == col:
            if (f.metadata or {}).get("delta.generationExpression"):
                raise ValueError(
                    f"column {col!r} is generated; it cannot also "
                    "carry a default"
                )
            md = dict(f.metadata or {})
            md["CURRENT_DEFAULT"] = default_sql
            new_fields.append(
                StructField(f.name, f.dataType, f.nullable, md)
            )
        else:
            new_fields.append(f)
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(new_fields).json()

    proto = snap.get("protocol") or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    wf = set(proto.get("writerFeatures") or [])
    wv = proto.get("minWriterVersion", 2)
    need_upgrade = "allowColumnDefaults" not in wf
    if need_upgrade and wv < 7:
        for lv in range(2, wv + 1):
            wf |= _LEGACY_WRITER_FEATURES.get(lv, set())
    new_proto = {
        "minReaderVersion": proto.get("minReaderVersion", 1),
        "minWriterVersion": 7,
        **(
            {"readerFeatures": proto["readerFeatures"]}
            if proto.get("readerFeatures")
            else {}
        ),
        "writerFeatures": sorted(wf | {"allowColumnDefaults"}),
    }

    def build(version: int) -> list[dict]:
        actions: list[dict] = []
        if need_upgrade:
            actions.append({"protocol": new_proto})
        actions.append({"metaData": new_meta})
        actions.append(
            {
                "commitInfo": {
                    "operation": "ALTER COLUMN SET DEFAULT",
                    "operationParameters": {
                        "column": col,
                        "default": default_sql,
                    },
                }
            }
        )
        return actions

    return _commit_version(path, build, read_version=snap["version"])


def drop_column_default(path: str, col: str) -> int:
    """ALTER TABLE ... ALTER COLUMN ... DROP DEFAULT: metadata-only
    removal; later writes must supply the column again."""
    snap = resolve_snapshot(path)
    meta = dict(snap["meta"] or {})
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    hit = False
    new_fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        if f.name == col and md.pop("CURRENT_DEFAULT", None) is not None:
            hit = True
            new_fields.append(
                StructField(f.name, f.dataType, f.nullable, md)
            )
        else:
            new_fields.append(f)
    if not hit:
        raise KeyError(f"no default on column {col!r} at {path}")
    meta["schemaString"] = StructType(new_fields).json()

    def build(version: int) -> list[dict]:
        return [
            {"metaData": meta},
            {
                "commitInfo": {
                    "operation": "ALTER COLUMN DROP DEFAULT",
                    "operationParameters": {"column": col},
                }
            },
        ]

    return _commit_version(path, build, read_version=snap["version"])


# typeWidening (PROTOCOL.md Type Widening): the widenings a reader can
# serve from UNREWRITTEN narrow files. Spark 4's parquet reader widens
# all of these natively when handed the wide logical schema (verified:
# byte→short/int/long/double, short→int/long/double, int→long/double/
# decimal, float→double, date→timestamp_ntz, decimal→wider decimal).
# decimal→double is deliberately ABSENT — Spark's parquet scan returns
# the unscaled integer (12.34 → 1234.0), and the Delta spec excludes
# it too.
_WIDEN_OK: dict[str, set[str]] = {
    "byte": {"short", "integer", "long", "double"},
    "short": {"integer", "long", "double"},
    "integer": {"long", "double"},
    "float": {"double"},
    "date": {"timestamp_ntz"},
}
# int-family → decimal needs p − s wide enough for every value the
# narrow type can hold (the spec's rule)
_WIDEN_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}


def _widening_allowed(src, dst) -> bool:
    from pyspark.sql.types import DecimalType

    s_name, d_name = src.typeName(), dst.typeName()
    if d_name in _WIDEN_OK.get(s_name, set()):
        return True
    if isinstance(dst, DecimalType):
        if isinstance(src, DecimalType):
            return (
                dst.scale >= src.scale
                and dst.precision - dst.scale
                >= src.precision - src.scale
                and (dst.precision, dst.scale)
                != (src.precision, src.scale)
            )
        need = _WIDEN_INT_DIGITS.get(s_name)
        return (
            need is not None
            and dst.precision - dst.scale >= need
        )
    return False


def alter_column_type(path: str, col: str, new_type: str) -> int:
    """ALTER TABLE ... ALTER COLUMN ... TYPE — Delta's typeWidening
    table feature as a METADATA-ONLY commit: the schemaString takes
    the wider type, existing data files keep their narrow physical
    encoding, and the read path serves them widened (Spark's parquet
    reader up-casts natively given the wide logical schema; the
    mdls_delta Python DataSource casts its Arrow batches the same
    way). Only spec-sanctioned widenings are allowed — anything that
    could truncate or misread raises ValueError.

    Per the protocol, each change appends
    ``{"tableVersion", "fromType", "toType"}`` to the column's
    ``delta.typeChanges`` field metadata (stamped with the ACTUAL
    committed version via the commit-loop callback, so a rebase after
    a lost race never records a stale version), and the table adopts
    ``typeWidening`` as BOTH a reader and writer feature (reader v3 /
    writer v7, legacy implied features preserved). Widening
    date → timestamp_ntz additionally adopts ``timestampNtz``.

    Partition columns are refused (their values live as strings in
    partitionValues and in hive paths keyed by the narrow rendering);
    generated / identity columns are refused (their expressions and
    allocation contracts are typed)."""
    from pyspark.sql.types import _parse_datatype_string

    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise KeyError(f"no column {col!r} on {path} (have {names})")
    if col in (meta.get("partitionColumns") or []):
        raise ValueError(
            f"cannot widen partition column {col!r}: partitionValues "
            "and hive paths encode the narrow rendering"
        )
    dst = _parse_datatype_string(new_type)
    field = schema[col]
    md = dict(field.metadata or {})
    if md.get("delta.generationExpression"):
        raise ValueError(f"column {col!r} is generated; widen refused")
    if any(k.startswith("delta.identity.") for k in md):
        raise ValueError(f"column {col!r} is IDENTITY; widen refused")
    if not _widening_allowed(field.dataType, dst):
        raise ValueError(
            f"{field.dataType.simpleString()} -> {dst.simpleString()} "
            f"is not a supported widening for {col!r} (would truncate "
            "or misread existing files)"
        )

    proto = snap.get("protocol") or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    wv = proto.get("minWriterVersion", 2)
    if wv < 7:
        for lv in range(2, wv + 1):
            wf |= _LEGACY_WRITER_FEATURES.get(lv, set())
    need = {"typeWidening"}
    if dst.typeName() == "timestamp_ntz":
        need.add("timestampNtz")
    new_proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf | need),
        "writerFeatures": sorted(wf | need),
    }
    need_upgrade = not (
        need <= rf
        and need <= set(proto.get("writerFeatures") or [])
    )

    def build(version: int) -> list[dict]:
        changes = list(md.get("delta.typeChanges") or [])
        changes.append(
            {
                "tableVersion": version,
                "fromType": field.dataType.simpleString(),
                "toType": dst.simpleString(),
            }
        )
        new_md = dict(md)
        new_md["delta.typeChanges"] = changes
        new_fields = [
            StructField(f.name, dst, f.nullable, new_md)
            if f.name == col
            else f
            for f in schema.fields
        ]
        new_meta = dict(meta)
        new_meta["schemaString"] = StructType(new_fields).json()
        actions: list[dict] = []
        if need_upgrade:
            actions.append({"protocol": new_proto})
        actions.append({"metaData": new_meta})
        actions.append(
            {
                "commitInfo": {
                    "operation": "CHANGE COLUMN",
                    "operationParameters": {
                        "column": col,
                        "from": field.dataType.simpleString(),
                        "to": dst.simpleString(),
                    },
                }
            }
        )
        return actions

    return _commit_version(path, build, read_version=snap["version"])


def _is_append_only(meta: dict | None) -> bool:
    return (
        meta is not None
        and ((meta.get("configuration") or {}).get("delta.appendOnly"))
        == "true"
    )


def _refuse_if_append_only(meta: dict | None, path: str, op: str) -> None:
    if _is_append_only(meta):
        raise DeltaProtocolError(
            f"table at {path} sets delta.appendOnly=true; {op} would "
            "remove or change existing rows (appendOnly writer "
            "feature: only appends and dataChange=false maintenance "
            "are allowed)"
        )


def _enforce_invariants(df: DataFrame, meta: dict | None, path: str) -> None:
    """Refuse a write whose rows violate the committed metaData's
    invariants: NOT NULL columns (schemaString nullable=false) and
    CHECK constraints (``delta.constraints.*``) — the protocol's
    writer-enforcement contract. ONE short-circuiting pass over the
    increment (``limit(1)``), and only when the table actually
    declares an invariant — invariant-free tables pay nothing. A CHECK
    is violated only when its expression is FALSE (NULL passes, the
    SQL-standard semantics real Delta follows)."""
    if meta is None:
        return
    committed = StructType.fromJson(json.loads(meta["schemaString"]))
    conds = []
    labels = []
    for f in committed.fields:
        if not f.nullable and f.name in df.columns:
            conds.append(F.col(f.name).isNull())
            labels.append(f"NOT NULL {f.name}")
    for name, expr in sorted(_check_constraints(meta).items()):
        conds.append(~F.coalesce(F.expr(expr), F.lit(True)))
        labels.append(f"CHECK {name}: {expr}")
    for col, expr in sorted(_generated_columns(meta).items()):
        if col in df.columns:
            # an explicitly-provided value must EQUAL the generation
            # expression (null-safely) — Delta's generated-column
            # write contract; absent columns were already filled
            conds.append(~F.col(col).eqNullSafe(F.expr(expr)))
            labels.append(f"GENERATED {col} AS {expr}")
    if not conds:
        return
    bad = df.filter(reduce(lambda a, b: a | b, conds)).limit(1)
    hit = bad.collect()
    if hit:
        raise DeltaInvariantViolationError(
            f"write to {path} violates a table invariant "
            f"({'; '.join(labels)}); first offending row: {hit[0]}"
        )


def set_table_properties(path: str, props: dict[str, str]) -> int:
    """ALTER TABLE SET TBLPROPERTIES for a log-backed table: commit an
    updated metaData whose configuration carries ``props`` — the entry
    point for ``delta.appendOnly`` and any other table property. The
    protocol action is metadata-only (no file I/O); enforcement
    happens on later writes. Returns the committed version."""
    snap = resolve_snapshot(path)
    meta = dict(snap["meta"] or {})
    conf = dict(meta.get("configuration") or {})
    conf.update(props)
    meta["configuration"] = conf

    def build(version: int) -> list[dict]:
        return [
            {"metaData": meta},
            {
                "commitInfo": {
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": json.dumps(props)
                    },
                }
            },
        ]

    return _commit_version(path, build, read_version=snap["version"])


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT: verify EVERY existing row satisfies
    ``expr`` (one short-circuiting scan — a constraint that the
    current data violates must not be committed, real Delta's
    behavior), then commit metaData with
    ``delta.constraints.<name>`` and a writer-version-3 protocol
    upgrade when needed. Returns the committed version."""
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    existing = _scan_adds(spark, path, meta, snap["files"])
    bad = existing.filter(
        ~F.coalesce(F.expr(expr), F.lit(True))
    ).limit(1)
    hit = bad.collect()
    if hit:
        raise DeltaInvariantViolationError(
            f"cannot add constraint {name} ({expr}) to {path}: "
            f"existing row violates it: {hit[0]}"
        )
    new_meta = dict(meta)
    conf = dict(new_meta.get("configuration") or {})
    conf[f"delta.constraints.{name}"] = expr
    new_meta["configuration"] = conf
    proto = snap.get("protocol") or {}

    def build(version: int) -> list[dict]:
        actions: list[dict] = []
        if (
            proto.get("minWriterVersion", 2) < 3
            and proto.get("minReaderVersion", 1) < 3
        ):
            # checkConstraints = writer version 3 (legacy numbering)
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": proto.get(
                            "minReaderVersion", 1
                        ),
                        "minWriterVersion": 3,
                    }
                }
            )
        actions.append({"metaData": new_meta})
        actions.append(
            {
                "commitInfo": {
                    "operation": "ADD CONSTRAINT",
                    "operationParameters": {"name": name, "expr": expr},
                }
            }
        )
        return actions

    return _commit_version(path, build, read_version=snap["version"])


def drop_check_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT: metadata-only removal."""
    snap = resolve_snapshot(path)
    meta = dict(snap["meta"] or {})
    conf = dict(meta.get("configuration") or {})
    if conf.pop(f"delta.constraints.{name}", None) is None:
        raise KeyError(f"no constraint {name} on {path}")
    meta["configuration"] = conf

    def build(version: int) -> list[dict]:
        return [
            {"metaData": meta},
            {
                "commitInfo": {
                    "operation": "DROP CONSTRAINT",
                    "operationParameters": {"name": name},
                }
            },
        ]

    return _commit_version(path, build, read_version=snap["version"])


def _evolve_schema_for_merge(
    df: DataFrame, meta: dict, partition_by: list[str], path: str
) -> dict | None:
    """metaData action payload for an additive ``mergeSchema`` write —
    the reference opts into Delta schema evolution on EVERY append
    (``.option('mergeSchema','true')``, bronze_table_creation.py:26,
    31,41,46,51,56), so a daily feed that gains a column must widen the
    table instead of erroring. Returns the updated metaData dict when
    ``df`` carries new columns (appended after the committed fields,
    nullable — old files null-fill them at read), or None when the
    committed schema already covers ``df``. Non-additive drift (a
    common column changing type, a partitioning change) still raises
    :class:`DeltaSchemaMismatchError` — evolution never silently
    rewrites meaning."""
    committed = StructType.fromJson(json.loads(meta["schemaString"]))
    want = {f.name: f.dataType.simpleString() for f in committed.fields}
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    mismatched = sorted(
        c for c in set(want) & set(have) if want[c] != have[c]
    )
    if mismatched:
        raise DeltaSchemaMismatchError(
            f"non-additive schema drift vs table at {path}: columns "
            f"{mismatched} change type "
            f"({[(c, want[c], have[c]) for c in mismatched]}); "
            "mergeSchema only ADDS columns — use mode='overwrite' with "
            "overwrite_schema=True to retype"
        )
    committed_parts = meta.get("partitionColumns") or []
    if list(partition_by) != committed_parts:
        raise DeltaSchemaMismatchError(
            f"table at {path} is partitioned by {committed_parts}, "
            f"not {list(partition_by)}; mergeSchema cannot repartition"
        )
    new_cols = [f for f in df.schema.fields if f.name not in want]
    if not new_cols:
        return None
    if (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    ) != "none":
        raise DeltaProtocolError(
            "additive evolution on a column-mapped table requires "
            "assigning physicalName/field-id metadata to the new "
            "columns; evolve via enable_column_mapping-aware DDL "
            "instead"
        )
    new_fields = list(committed.fields) + [
        StructField(f.name, f.dataType, True) for f in new_cols
    ]
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(new_fields).json()
    return new_meta


def last_txn_version(path: str, app_id: str) -> int:
    """Highest SetTransaction version committed for ``app_id`` (-1 if
    none) — the idempotence watermark a streaming writer consults
    before re-applying a microbatch (Delta's ``txn`` contract)."""
    if not is_delta_table(path):
        return -1
    return resolve_snapshot(path)["txns"].get(app_id, -1)


def write_delta(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    overwrite_schema: bool = False,
    merge_schema: bool = False,
    txn: tuple[str, int] | None = None,
    _expect_version: int | None = None,
) -> int:
    """Write ``df`` to ``path`` as a REAL Delta table — data files plus
    a spec-conformant transaction-log commit — without delta-spark.
    Returns the committed version.

    Protocol shape (PROTOCOL.md): version 0 carries ``protocol``
    (minReaderVersion 1 / minWriterVersion 2) and ``metaData``
    (schemaString = the Spark schema JSON, partitionColumns);
    ``mode="append"`` commits add actions only; ``mode="overwrite"``
    also commits remove actions for every previously-active file
    (logical delete — data files stay for time travel, exactly like
    Delta's own overwrite). The commit file is created with
    ``O_EXCL`` and the version is retried on collision — the
    single-filesystem equivalent of Delta's put-if-absent commit
    protocol (object-store multi-cluster coordination is out of scope
    and documented as such).

    ``txn=(app_id, version)`` attaches a SetTransaction action to the
    commit — the protocol's exactly-once handshake for streaming
    writers: a retried microbatch checks :func:`last_txn_version`
    first and skips versions already recorded. The commit itself also
    refuses to land if the same (appId, version) is already in the
    snapshot, closing the check-then-write race.

    Scale notes: data files are written by Spark's normal distributed
    parquet writer (one task per partition); only the O(files) commit
    metadata passes through the driver — the same division of labor as
    delta-spark itself.
    """
    import time as _time
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode: {mode}")

    snap = resolve_snapshot(path) if is_delta_table(path) else None
    if (
        snap is not None
        and _expect_version is not None
        and snap["version"] != _expect_version
    ):
        raise DeltaConcurrentWriteError(
            f"table at {path} advanced to version {snap['version']} "
            f"after the caller read version {_expect_version}; "
            "re-read and re-apply"
        )
    evolved_meta: dict | None = None
    if snap is not None and snap["meta"] is not None:
        if mode == "append":
            # identity tables allocate through append_with_identity
            # (sources/identity.py) — a plain append would ship caller
            # values without advancing the high-water mark, corrupting
            # later generations
            id_schema = StructType.fromJson(
                json.loads(snap["meta"]["schemaString"])
            )
            if any(
                "delta.identity.start" in (f.metadata or {})
                for f in id_schema.fields
            ):
                raise DeltaSchemaMismatchError(
                    f"table at {path} has identity columns; append "
                    "via sources/identity.py:append_with_identity"
                )
        # fill absent generated/default columns BEFORE schema
        # validation (the writer computes them; provided values are
        # validated below)
        df = _apply_generated_columns(df, snap["meta"])
        df = _apply_column_defaults(df, snap["meta"])
        committed_parts = snap["meta"].get("partitionColumns") or []
        if partition_by is None:
            partition_by = committed_parts  # inherit, like Delta itself
        if mode == "overwrite" and overwrite_schema:
            if (snap["meta"].get("configuration") or {}).get(
                "delta.columnMapping.mode", "none"
            ) != "none":
                raise DeltaProtocolError(
                    "overwrite_schema on a column-mapped table would "
                    "drop the mapping metadata; evolve via "
                    "rename_column / explicit metaData instead"
                )
        elif merge_schema:
            # Delta's mergeSchema: additive evolution (new nullable
            # columns widen the table; anything else still raises)
            evolved_meta = _evolve_schema_for_merge(
                df, snap["meta"], list(partition_by), path
            )
        else:
            _validate_against_meta(
                df, snap["meta"], list(partition_by), path
            )
        if mode == "overwrite":
            _refuse_if_append_only(snap["meta"], path, "overwrite")
        _enforce_invariants(df, snap["meta"], path)
    partition_by = list(partition_by or [])
    os.makedirs(path, exist_ok=True)
    now_ms = int(_time.time() * 1000)
    adds = _stage_physical(
        df, path, snap["meta"] if snap else None, partition_by, now_ms
    )
    evolve = snap is not None and mode == "overwrite" and overwrite_schema

    def build(version: int) -> list[dict]:
        actions: list[dict] = []
        if txn is not None:
            app_id, txn_version = txn
            prior_txns = (
                resolve_snapshot(path, version_as_of=version - 1)["txns"]
                if version > 0
                else {}
            )
            if prior_txns.get(app_id, -1) >= txn_version:
                raise DeltaConcurrentWriteError(
                    f"transaction ({app_id}, {txn_version}) already "
                    f"committed to {path}; a retried batch must be "
                    "skipped, not re-applied"
                )
            actions.append(
                {
                    "txn": {
                        "appId": app_id,
                        "version": txn_version,
                        "lastUpdated": now_ms,
                    }
                }
            )
        if version == 0:
            # generatedColumns = legacy writer version 4
            has_gen = any(
                (f.metadata or {}).get("delta.generationExpression")
                for f in df.schema.fields
            )
            base_wv = 4 if has_gen else 2
            type_feats = _schema_type_features(df.schema)
            if type_feats:
                # VARIANT / TIMESTAMP_NTZ columns require a features
                # protocol from the very first commit
                wf: set[str] = set()
                for lv in range(2, base_wv + 1):
                    wf |= _LEGACY_WRITER_FEATURES.get(lv, set())
                proto = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(type_feats),
                    "writerFeatures": sorted(wf | type_feats),
                }
            else:
                proto = {
                    "minReaderVersion": 1,
                    "minWriterVersion": base_wv,
                }
            actions.append({"protocol": proto})
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": df.schema.json(),
                        "partitionColumns": partition_by,
                        "configuration": {},
                        "createdTime": now_ms,
                    }
                }
            )
        elif mode == "overwrite":
            prior = resolve_snapshot(path, version_as_of=version - 1)
            if evolve or evolved_meta is not None:
                up = _type_feature_upgrade(
                    prior.get("protocol"), df.schema
                )
                if up is not None:
                    actions.append({"protocol": up})
            if evolve:
                # re-commit metaData: same table id, evolved schema /
                # partitioning (Delta's overwriteSchema behavior)
                new_meta = dict(prior["meta"] or {})
                new_meta["schemaString"] = df.schema.json()
                new_meta["partitionColumns"] = partition_by
                actions.append({"metaData": new_meta})
            elif evolved_meta is not None:
                actions.append({"metaData": evolved_meta})
            actions.extend(
                {"remove": _remove_action(rel, a, now_ms)}
                for rel, a in prior["files"].items()
            )
        elif evolved_meta is not None:
            # append with mergeSchema: the widened metaData lands in
            # the same commit as the adds (real Delta's behavior);
            # a merged-in VARIANT / NTZ column upgrades the protocol
            # in that same commit
            up = _type_feature_upgrade(
                (snap or {}).get("protocol"), df.schema
            )
            if up is not None:
                actions.append({"protocol": up})
            actions.append({"metaData": evolved_meta})
        actions.extend(adds)
        return actions

    # overwrites computed their remove set (and callers their data)
    # against `snap`; appends are snapshot-independent and may retry —
    # EXCEPT when this append evolves the schema: a concurrent
    # metadata change must conflict, not be clobbered
    read_version = (
        snap["version"]
        if snap is not None
        and (mode == "overwrite" or evolved_meta is not None)
        else None
    )
    return _commit_version(path, build, read_version=read_version)


def _key_range_overlap(source: DataFrame, keys: list[str], meta: dict):
    """Predicate over add actions: can this data file hold a row whose
    keys equal (``<=>``) one of ``source``'s? One aggregate job reads
    the source's row count and, per key column, its [min, max] and
    whether it holds a NULL. A file can hold a matched row only if, on
    EVERY key column, its logged [min, max] intersects the source's
    range (the matched key value lies in both). An empty source
    overlaps nothing. A key column holding a NULL in the source (a NULL
    key matches a NULL key), and absent or non-comparable file stats,
    never prune. Stats are keyed by PHYSICAL names (``meta``'s column
    mapping): after a rename, the logical name may be another column's
    physical one. It prunes a MERGE's target scan and, as
    ``add_conflicts``, decides its rebase."""
    mapping = _column_mapping(
        meta, StructType.fromJson(json.loads(meta["schemaString"]))
    )
    bounds = source.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count_if(F.col(k).isNull()).alias(f"_nul_{i}") for i, k in enumerate(keys)],
        *[F.min(k).alias(f"_lo_{i}") for i, k in enumerate(keys)],
        *[F.max(k).alias(f"_hi_{i}") for i, k in enumerate(keys)],
    ).first()
    if not bounds["_n"]:
        return lambda add: False
    ranges = [
        (
            mapping.get(k, k),
            _stats_jsonable(bounds[f"_lo_{i}"]),
            _stats_jsonable(bounds[f"_hi_{i}"]),
        )
        for i, k in enumerate(keys)
        if not bounds[f"_nul_{i}"]
    ]

    def overlaps(add: dict) -> bool:
        s = add.get("stats")
        s = json.loads(s) if isinstance(s, str) else (s or {})
        minv = s.get("minValues") or {}
        maxv = s.get("maxValues") or {}
        for k, lo, hi in ranges:
            fmin, fmax = minv.get(k), maxv.get(k)
            if None in (lo, hi, fmin, fmax):
                continue
            try:
                if fmax < lo or fmin > hi:
                    return False
            except TypeError:
                continue
        return True

    return overlaps


def _merge_commit(
    path: str,
    snap: dict,
    classified: DataFrame,
    cols: list[str],
    parameters: dict,
    started: float,
    read_files: set[str] | None,
    add_conflicts,
) -> int:
    """The back end of every MERGE: materialize a classified frame once,
    rewrite the touched files from it and commit.

    ``classified`` holds one row per target row and per source row
    (a full outer join): the table columns ``cols`` with their
    post-merge values, ``_file`` (the target row's data file, NULL for
    a source-only row), ``_keep`` (the row is in the post-merge table)
    and ``_change`` (``insert`` / ``update`` / ``delete``, anything
    else for a row no clause changed). A ``_pre`` struct of the target
    row's old values, when present, makes the commit carry the change
    data feed. Steps:

    1. ``localCheckpoint(eager=True)`` materializes the frame (storage
       level MEMORY_AND_DISK: it spills rather than fails; a
       ``persist()`` would keep all the join's shuffle partitions and
       fan every later write out into that many tasks and files). An
       ``Observation`` computes, in the checkpoint's own job, the
       touched files (holding an updated or deleted row), the files
       holding a kept row and the inserted / updated / deleted counts
       — no collect, no extra job. Sets and positivity decide the
       commit, so a re-run task's double-counted accumulator can only
       skew the metrics;
    2. ONE write of the kept rows of touched files plus inserts, after
       the table's invariants are checked on exactly those rows
       (skipped when there are none);
    3. with ``_pre``, one write of the ``_change_data`` files:
       inserts, update pre- and postimages, deleted rows' old values;
    4. a commit whose commitInfo carries ``parameters`` plus
       ``filesRewritten`` and Delta-style ``operationMetrics`` (string
       values; ``executionTimeMs`` counted from ``started``, the
       public call's start, so it covers the front end's jobs too).

    The checkpoint's blocks are released when this returns or raises.
    The commit rebases past concurrent commits that remove none of
    ``read_files`` (the touched files when None) and add no file
    ``add_conflicts`` holds true for."""
    import time as _time

    from pyspark.sql import Observation

    meta, files = snap["meta"], snap["files"]
    change, file_, keep = F.col("_change"), F.col("_file"), F.col("_keep")
    cdc = "_pre" in classified.columns
    seen = Observation()
    ck = (
        classified.observe(
            seen,
            F.collect_set(F.when(change.isin("update", "delete"), file_)).alias(
                "touched"
            ),
            F.collect_set(F.when(keep, file_)).alias("kept"),
            *[F.count_if(change == k).alias(k) for k in ("insert", "update", "delete")],
        )
        .select(*cols, "_file", "_keep", *(["_change", "_pre"] if cdc else []))
        .localCheckpoint(eager=True)
    )
    try:
        counts = seen.get
        touched = {rel: files[rel] for rel in counts["touched"]}
        now_ms = int(_time.time() * 1000)
        adds: list[dict] = []
        cdc_actions: list[dict] = []
        if counts["insert"] or touched.keys() & set(counts["kept"]):
            content = ck.filter(
                keep & (file_.isNull() | file_.isin(list(touched)))
            ).select(*cols)
            _enforce_invariants(content, meta, path)
            adds = [
                a
                for a in _stage_physical(
                    content, path, meta, meta.get("partitionColumns") or [], now_ms
                )
                if _add_num_records(a["add"]) != 0
            ]
        if cdc and (counts["insert"] or counts["update"] or counts["delete"]):
            pre = [F.col(f"_pre.`{c}`").alias(c) for c in cols]

            def image(kind: str, values: list, label: str) -> DataFrame:
                return ck.filter(change == kind).select(
                    *values, F.lit(label).alias("_change_type")
                )

            feed = (
                image("insert", cols, "insert")
                .unionByName(image("update", pre, "update_preimage"))
                .unionByName(image("update", cols, "update_postimage"))
                .unionByName(image("delete", pre, "delete"))
            )
            cdc_actions = _stage_cdc_files(feed, path, now_ms, meta)
    finally:
        # a checkpointed frame's unpersist() is a no-op: free the
        # blocks of the RDD its plan wraps
        ck._jdf.queryExecution().analyzed().rdd().unpersist(True)
    metrics = {
        "numTargetRowsInserted": counts["insert"],
        "numTargetRowsUpdated": counts["update"],
        "numTargetRowsDeleted": counts["delete"],
        "numTargetFilesAdded": len(adds),
        "numTargetFilesRemoved": len(touched),
        "numOutputRows": sum(_add_num_records(a["add"]) or 0 for a in adds),
    }

    def build(version: int) -> list[dict]:
        actions = [
            {"remove": _remove_action(rel, touched[rel], now_ms)}
            for rel in touched
        ]
        actions.extend(adds)
        actions.extend(cdc_actions)
        metrics["executionTimeMs"] = int((_time.monotonic() - started) * 1000)
        actions.append(
            {
                "commitInfo": {
                    "operation": "MERGE",
                    "operationParameters": {
                        **parameters,
                        "filesRewritten": len(touched),
                    },
                    # Delta's shape: every metric value is a string
                    "operationMetrics": {
                        k: str(v) for k, v in metrics.items()
                    },
                }
            }
        )
        return actions

    return _commit_with_rebase(
        path,
        build,
        read_version=snap["version"],
        our_removed=set(touched) if read_files is None else read_files,
        add_conflicts=add_conflicts,
    )


def _upsert_sync_file_scoped(
    spark: SparkSession,
    src: DataFrame,
    path: str,
    keys: list[str],
    snap: dict,
    started: float,
) -> int:
    """Front end of the full-source sync MERGE (``delete_missing=True``):
    the target projection (keys, a 64-bit fingerprint of the non-key
    columns, the row's file path, its copy number among target rows of
    that key) full-outer joined on the keys with the whole source
    (every column plus its fingerprint), classified for
    :func:`_merge_commit`. Valid only because the source IS the new
    table: the join never reads a target column beyond the keys, so
    the rewrite comes from the source rows alone. The source and the
    target are each evaluated once.

    A full-source sync must see every target key (any file may hold a
    key the source deleted), so pruning cannot cut the *scan*, but
    only files holding a deleted or changed row are rewritten. Edge
    cases follow the sync contract — the table becomes the source, one
    row per key: a key held by several target rows keeps its first
    copy (by file path and row index) as the update candidate and
    deletes the others, so the source row is written once; NULL keys
    never match (the target's NULL-key rows are deleted, the source's
    inserted); a changed partition-column value changes the
    fingerprint, so the row's old file is rewritten and the row lands
    in its new directory. The projection holds no old values, so this
    form writes no ``_change_data`` files."""
    from pyspark.sql import Window

    cols = src.columns
    non_keys = [c for c in cols if c not in keys]

    def fp(df: DataFrame):
        return (
            F.xxhash64(
                F.to_json(F.struct(*[df[c] for c in non_keys]))
            )
            if non_keys
            else F.lit(0).cast("long")
        )

    scanned = _scan_adds(
        spark, path, snap["meta"], snap["files"], keep_positions=True
    )
    tgt = scanned.select(
        *keys,
        fp(scanned).alias("__t_fp"),
        F.col(_DV_PATH).alias("__t_file"),
        F.row_number()
        .over(Window.partitionBy(*keys).orderBy(_DV_PATH, _DV_RID))
        .alias("__t_copy"),
    )
    joined = tgt.join(
        src.select(*cols, fp(src).alias("__s_fp")), on=keys, how="full_outer"
    )
    t_in = F.col("__t_file").isNotNull()
    s_in = F.col("__s_fp").isNotNull()
    first = F.col("__t_copy") == 1
    classified = joined.select(
        *cols,
        F.col("__t_file").alias("_file"),
        (s_in & (~t_in | first)).alias("_keep"),
        F.when(t_in & ~(s_in & first), "delete")
        .when(t_in & (F.col("__t_fp") != F.col("__s_fp")), "update")
        .when(~t_in, "insert")
        .alias("_change"),
    )
    # A full-source sync READS every live file (any file may hold a
    # key the source deleted), so any intervening add or remove is a
    # true conflict; only file-free interlopers (txn markers,
    # commitInfo-only) rebase.
    return _merge_commit(
        path,
        snap,
        classified,
        cols,
        {"predicate": json.dumps(keys), "scope": "file-sync"},
        started,
        read_files=set(snap["files"]),
        add_conflicts=lambda add: True,
    )


def _merge_file_scoped(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    clauses: list[dict],
    snap: dict,
    parameters: dict,
    started: float,
) -> int:
    """Front end of the general MERGE: :func:`general_merge_state` over
    the target scan and ``source`` (at most one row per key — callers
    guarantee it), classified for :func:`_merge_commit`.

    Without a ``not_matched_by_source`` clause only target rows that
    match a source key can change, so the scan is pruned to the files
    whose logged key ranges overlap the source's
    (:func:`_key_range_overlap`). The rebase follows what the MERGE
    read: a by-source clause reads every file, so every intervening
    add conflicts; otherwise an add conflicts when its key range
    overlaps the source's, and an intervening remove conflicts when it
    hits a candidate file (a ``not_matched`` clause decided its
    inserts from them) or, with no ``not_matched`` clause, a touched
    one."""
    meta, files = snap["meta"], snap["files"]
    cols = [
        f.name for f in StructType.fromJson(json.loads(meta["schemaString"])).fields
    ]
    kinds = {cl["when"] for cl in clauses}
    overlaps = (
        (lambda add: True)
        if "not_matched_by_source" in kinds
        else _key_range_overlap(source, keys, meta)
    )
    candidates = {rel: add for rel, add in files.items() if overlaps(add)}
    classified = general_merge_state(
        _scan_adds(spark, path, meta, candidates, keep_positions=True),
        source,
        keys,
        clauses,
        cols,
        file_col=_DV_PATH,
        emit_changes=_cdf_enabled(meta),
    )
    return _merge_commit(
        path,
        snap,
        classified,
        cols,
        parameters,
        started,
        read_files=set(candidates) if kinds - {"matched"} else None,
        add_conflicts=overlaps,
    )


def _add_num_records(add: dict) -> int | None:
    """``numRecords`` from an add action's logged stats (None without)."""
    stats = add.get("stats")
    return json.loads(stats).get("numRecords") if stats else None


def upsert_delta_log(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
    delete_missing: bool = True,
    version_col: str | None = None,
) -> int:
    """The reference's signature MERGE (update-if-changed /
    insert-if-new / delete-if-absent, silver_table_creation.py:65 etc.)
    against a REAL log-backed Delta table, without delta-spark.
    Returns the committed version.

    Both forms are **file-granular** — the granularity of Delta's own
    MERGE (touched-file rewrite, silver_table_creation.py:47-66) — and
    share one back end, :func:`_merge_commit`: the classified join is
    materialized once (its job also yields the touched files and the
    row counts, through an ``Observation``), the kept rows of touched
    files plus inserts are written once, and the commit carries
    Delta-style ``operationMetrics`` (rows inserted/updated/deleted,
    files added/removed, output rows, execution ms). Data files are
    keyed by their add action's table-relative path, so any layout the
    protocol allows works, including one Spark task's same-named files
    across partition directories (what :func:`convert_to_delta` of a
    Spark-written table holds). The source is first deduplicated to
    one row per key (:func:`operators.upsert.dedup_source_by_key`).

    - ``delete_missing=True`` (full-source sync,
      :func:`_upsert_sync_file_scoped`): the target's key/fingerprint
      projection joined with the whole source, ``"scope": "file-sync"``.
    - ``delete_missing=False`` (incremental upsert): the general MERGE
      (:func:`_merge_file_scoped`) with the SCD-1 clauses delta-spark
      gets from ``operators/upsert._upsert_delta`` — matched and some
      non-key column changed (null-safely) updates every non-key
      column, not matched inserts. Keys match null-safely (``<=>``),
      the target scan is pruned to files whose key ranges overlap the
      source's, and a CDF table gets ``_change_data`` files.
      ``"scope": "file"``.

    Invariants are checked on the rows written (unchanged rows riding
    through were valid when written, and constraints only commit after
    validating existing data). Crash safety beats the directory-swap
    fallback: new data files are invisible until the single O_EXCL
    commit file lands, so a crash at ANY point leaves the previous
    snapshot intact (orphaned uncommitted files are garbage per the
    protocol, collected by vacuum). Old snapshots stay readable via
    ``version_as_of``. A no-change merge still commits (commitInfo
    only) so every upsert call maps to one time-travelable version.
    """
    import time as _time

    from medallion_delta_lake_spark.operators import upsert as upsert_mod

    started = _time.monotonic()
    keys = list(keys)
    src = upsert_mod.dedup_source_by_key(source, keys, version_col)
    if not is_delta_table(path):
        return write_delta(
            spark, src, path, mode="overwrite", partition_by=partition_by
        )
    snap = resolve_snapshot(path)
    part_cols = (snap["meta"] or {}).get("partitionColumns") or []
    if partition_by is not None and list(partition_by) != part_cols:
        raise ValueError(
            f"table at {path} is partitioned by {part_cols}, "
            f"not {list(partition_by)}"
        )
    _refuse_if_append_only(snap["meta"], path, "MERGE")
    if delete_missing:
        return _upsert_sync_file_scoped(spark, src, path, keys, snap, started)
    non_keys = [c for c in src.columns if c not in keys]
    clauses = [{"when": "not_matched", "action": "insert"}]
    if non_keys:
        clauses.insert(
            0,
            {
                "when": "matched",
                "action": "update",
                "condition": upsert_mod._null_safe_change_cond(non_keys),
                "set": {c: f"s.`{c}`" for c in non_keys},
            },
        )
    return _merge_file_scoped(
        spark,
        src,
        path,
        keys,
        clauses,
        snap,
        {"predicate": json.dumps(keys), "scope": "file"},
        started,
    )


def _file_num_records(path: str, rel: str, add: dict) -> int:
    """Physical row count of a data file — from the add action's logged
    stats when present, else the parquet footer (O(footer) metadata)."""
    s = add.get("stats")
    s = json.loads(s) if isinstance(s, str) else (s or {})
    if s.get("numRecords") is not None:
        return int(s["numRecords"])
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows


def _dv_protocol_actions(snap: dict) -> list[dict]:
    """The protocol-upgrade action a commit must carry the first time
    deletion vectors land in a table (PROTOCOL.md: DVs are a reader+
    writer table feature, so minReaderVersion 3 / minWriterVersion 7
    with the feature listed on both sides). Empty if the table already
    advertises them."""
    proto = snap.get("protocol") or {}
    feats = set(proto.get("readerFeatures") or [])
    if proto.get("minReaderVersion", 1) >= 3 and "deletionVectors" in feats:
        return []
    return [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(feats | {"deletionVectors"}),
                "writerFeatures": sorted(
                    set(proto.get("writerFeatures") or [])
                    | {"deletionVectors"}
                ),
            }
        }
    ]


def delete_delta_log(
    spark: SparkSession,
    path: str,
    filters: list[tuple],
    inline_threshold: int = 64,
    max_dv_rows_per_file: int = 100_000,
    rewrite_fraction: float = 0.8,
) -> dict:
    """DELETE FROM a log-backed Delta table via **deletion vectors** —
    small deletes never rewrite a data file. Returns
    ``{"version", "deleted_rows", "files_removed", "files_rewritten",
    "files_with_new_dv"}``.

    ``filters`` is a conjunction of ``(column, op, value)`` triples
    (the same contract as :func:`read_delta`), used three ways:

    1. **data skipping** — files whose logged min/max stats or
       partitionValues prove the predicate empty are never scanned;
    2. the surviving files are scanned ONCE with the hidden
       ``_metadata.row_index`` to find matching physical positions
       (existing DV rows are subtracted first, so a second DELETE
       never re-deletes);
    3. per file (classified from a per-file COUNT pass, O(files)
       driver metadata — never the indexes themselves): all rows
       deleted → a plain ``remove`` action; more than
       ``max_dv_rows_per_file`` rows or ≥ ``rewrite_fraction`` of the
       file deleted → the file is REWRITTEN without the matched rows
       (a DV that large is pure overhead, and collecting its indexes
       would put O(deleted rows) in driver memory — round-7 bound);
       otherwise the file is re-added with a merged deletion vector
       (old DV ∪ new positions). Small DVs (≤ ``inline_threshold``
       rows) embed Z85-inline in the log; larger ones pack into ONE
       ``deletion_vector_*.bin`` per commit (delta-spark's own
       packing).

    The commit also upgrades the table protocol to reader 3 / writer 7
    with the ``deletionVectors`` feature on first use, exactly as
    delta-spark does. Matching the reference scope: the reference
    engine can only delete by full-partition rewrite through
    ``DeltaTable.merge`` (silver_table_creation.py:47-66); row-level
    DVs make selective deletes O(deleted rows), not O(table) — the
    behavior modern Delta enables by default.

    Scale notes: the scan is distributed and stat-pruned; the driver
    first collects only per-file match COUNTS (O(files)), and row
    indexes are collected solely for files staying under
    ``max_dv_rows_per_file`` — so driver memory is O(small-delete) by
    construction, with big per-file deletes routed to a distributed
    file rewrite instead. :func:`optimize_delta_log` materializes
    accumulated DVs.
    """
    import time as _time

    from medallion_delta_lake_spark.sources import deletion_vectors as _dv

    if not filters:
        raise ValueError(
            "refusing DELETE with no predicate; use "
            "write_delta(mode='overwrite') to truncate"
        )
    for f in filters:
        if len(f) != 3 or f[1] not in _SKIP_OPS:
            raise ValueError(f"bad filter triple: {f!r}")
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    _refuse_if_append_only(meta, path, "DELETE")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    mapping = _column_mapping(meta, schema)
    phys = lambda c: mapping.get(c, c)  # noqa: E731
    phys_filters = [(phys(c), op, v) for c, op, v in filters]
    phys_parts = [phys(c) for c in part_cols]
    cand = {
        rel: add
        for rel, add in snap["files"].items()
        if not _file_can_skip(add, phys_filters, phys_parts)
    }
    now_ms = int(_time.time() * 1000)
    scanned = None
    cond = None
    matched_pos = None
    counts: dict[str, int] = {}  # file path → matched-row count
    if cand:
        scanned = _scan_adds(spark, path, meta, cand, keep_positions=True)
        cond = _filter_cond(filters)
        # r16 optimization (guide §1.2/§2.3, the r15 UPDATE-path fix
        # applied to DELETE): the matched positions feed TWO collects —
        # the per-file classification counts and the DV-bound index
        # lists — which used to scan the candidate files twice. Project
        # down to (file, row_index) FIRST (nothing else ever leaves the
        # scan) and cache that narrow frame across both jobs; at scale
        # this is 2 cold object-store reads of every candidate file → 1,
        # and only ~12 B/row ever materializes. Unpersisted in the
        # finally below — never leaks past the op.
        matched_pos = (
            scanned.filter(cond).select(_DV_PATH, _DV_RID).cache()
        )
    try:
        if matched_pos is not None:
            counts = {
                r[_DV_PATH]: r["_n"]
                for r in matched_pos.groupBy(_DV_PATH)
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
            }

        # classify each touched file from counts alone — indexes are
        # only ever collected for the DV-bound (small) class
        removes = []
        rewrites = []
        dv_bound = []
        deleted_rows = 0
        for rel, n in sorted(counts.items()):
            add = cand[rel]
            deleted_rows += n
            old = add.get("deletionVector")
            # the scan already subtracts the old DV, so new matches
            # are disjoint from it: merged cardinality = old + new
            n_old = (
                int(
                    old.get("cardinality")
                    or len(_dv.dv_row_indexes(path, old))
                )
                if old
                else 0
            )
            n_total = _file_num_records(path, rel, add)
            if n_old + n >= n_total:
                removes.append(rel)
            elif (
                n > max_dv_rows_per_file
                or (n_old + n) >= rewrite_fraction * n_total
            ):
                rewrites.append(rel)
            else:
                dv_bound.append(rel)

        new_dvs = {}  # rel → merged indexes (file DV)
        inline_dvs = {}  # rel → inline descriptor
        if dv_bound:
            matched = (
                matched_pos.filter(F.col(_DV_PATH).isin(dv_bound))
                .groupBy(_DV_PATH)
                .agg(
                    F.sort_array(F.collect_list(_DV_RID)).alias("idxs")
                )
                .collect()
            )
            for row in matched:
                rel = row[_DV_PATH]
                add = cand[rel]
                old = add.get("deletionVector")
                old_idx = _dv.dv_row_indexes(path, old) if old else []
                merged = sorted(
                    set(old_idx) | set(int(i) for i in row["idxs"])
                )
                if len(merged) <= inline_threshold:
                    inline_dvs[rel] = _dv.inline_descriptor(merged)
                else:
                    new_dvs[rel] = merged
    finally:
        if matched_pos is not None:
            matched_pos.unpersist()

    rewrite_adds: list[dict] = []
    if rewrites:
        # distributed rewrite: the file minus the matched rows (rows
        # where the predicate is NULL are KEPT — only provable matches
        # delete, same as the filter(cond) match side)
        keep = ~F.coalesce(cond, F.lit(False))
        content = _scan_adds(
            spark, path, meta, {r: cand[r] for r in rewrites}
        ).filter(keep)
        rewrite_adds = _stage_physical(
            content, path, meta, part_cols, now_ms
        )

    descriptors = dict(inline_dvs)
    if new_dvs:
        descriptors.update(_dv.write_dv_file(path, new_dvs))

    def build(version: int) -> list[dict]:
        actions = _dv_protocol_actions(snap) if descriptors else []
        for rel in removes + rewrites:
            actions.append(
                {"remove": _remove_action(rel, cand[rel], now_ms)}
            )
        actions.extend(rewrite_adds)
        for rel, desc in sorted(descriptors.items()):
            old = cand[rel]
            r = {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": True,
            }
            if old.get("deletionVector"):
                r["deletionVector"] = old["deletionVector"]
            # remove the (path, old-DV) entry BEFORE re-adding: replay
            # is sequential, and readers keyed by (path, dvId) need the
            # tombstone (PROTOCOL.md file-uniqueness contract)
            actions.append({"remove": r})
            new_add = {
                k: v for k, v in old.items() if k != "deletionVector"
            }
            new_add["deletionVector"] = desc
            new_add["dataChange"] = True
            new_add["modificationTime"] = now_ms
            actions.append({"add": new_add})
        actions.append(
            {
                "commitInfo": {
                    "operation": "DELETE",
                    "operationParameters": {
                        "predicate": json.dumps(
                            [[c, op, str(v)] for c, op, v in filters]
                        )
                    },
                }
            }
        )
        return actions

    # Rebase on a lost race when the interloper's files are provably
    # disjoint: our write set untouched, their adds skippable under
    # OUR predicate (the same physical-name stats test that pruned the
    # scan).
    version = _commit_with_rebase(
        path,
        build,
        read_version=snap["version"],
        our_removed=set(removes) | set(rewrites) | set(descriptors),
        add_conflicts=lambda add: not _file_can_skip(
            add, phys_filters, phys_parts
        ),
    )
    return {
        "version": version,
        "deleted_rows": deleted_rows,
        "files_removed": len(removes),
        "files_rewritten": len(rewrites),
        "files_with_new_dv": len(descriptors),
    }


def optimize_delta_log(
    spark: SparkSession,
    path: str,
    zorder_by: list[str] | None = None,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    zorder_bits: int = 16,
) -> dict:
    """OPTIMIZE for log-backed Delta tables: bin-pack small files and
    (optionally) Z-order-cluster, committing ``remove``+``add`` with
    ``dataChange: false`` — the spec's marker that a commit rearranges
    bytes without changing table content (streaming readers skip it).
    Returns ``{"version", "files_compacted", "files_written"}``.

    Default mode selects, per partition, files smaller than
    ``small_file_bytes`` (default ``target_file_bytes/2``) plus every
    file carrying a deletion vector — compaction **materializes**
    deletes, dropping the DV (Delta's own PURGE behavior) — and
    rewrites them into ≈``total/target_file_bytes`` files.

    ``zorder_by`` (one or two columns) rewrites ALL live files: one
    column range-clusters directly; two numeric columns are min/max
    normalized into ``2**zorder_bits`` buckets and interleaved with
    :func:`~medallion_delta_lake_spark.functions.spatial.morton_key`,
    then range-partitioned + locally sorted so every output file owns
    a tight hyper-rectangle — with the per-file min/max stats written
    at commit, later :func:`read_delta` filters on EITHER column skip
    files (Delta's OPTIMIZE ZORDER, on this engine's own log).

    Scale notes: the rewrite is Spark-distributed (range partitioner =
    one sample pass + one shuffle); the driver only handles O(files)
    metadata. No-op (nothing to compact) returns without committing.
    """
    import math
    import time as _time

    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    part_cols = meta.get("partitionColumns") or []
    small = (
        small_file_bytes
        if small_file_bytes is not None
        else target_file_bytes // 2
    )
    if zorder_by is None:
        # clustered table (delta.clustering domain): OPTIMIZE
        # re-clusters by the declared columns automatically
        zorder_by = clustering_columns(snap) or None
    if zorder_by:
        if not 1 <= len(zorder_by) <= 6:
            raise ValueError(
                "zorder_by supports one to six columns (interleaved "
                "key bits shrink as 62 // k — beyond ~6 dimensions "
                "each column keeps too few bits to cluster usefully)"
            )
        if any(c in part_cols for c in zorder_by):
            raise ValueError("cannot Z-order by a partition column")
        selected = dict(snap["files"])
    else:
        by_part: dict[tuple, list[str]] = {}
        for rel, add in snap["files"].items():
            pv = add.get("partitionValues") or {}
            by_part.setdefault(
                tuple(pv.get(c) for c in part_cols), []
            ).append(rel)
        selected = {}
        for rels in by_part.values():
            pick = [
                r
                for r in rels
                if snap["files"][r].get("size", 0) < small
                or snap["files"][r].get("deletionVector")
            ]
            if len(pick) >= 2 or any(
                snap["files"][r].get("deletionVector") for r in pick
            ):
                selected.update({r: snap["files"][r] for r in pick})
    if not selected:
        return {
            "version": snap["version"],
            "files_compacted": 0,
            "files_written": 0,
        }

    if _row_tracking_enabled(meta):
        # row ids must SURVIVE compaction (PROTOCOL.md row tracking):
        # resolve each surviving row's id (materialized column if the
        # file was itself compacted before, else baseRowId + position)
        # and write it into the new files as the materialized columns
        _conf = meta.get("configuration") or {}
        _idc = _conf.get(
            "delta.rowTracking.materializedRowIdColumnName",
            ROW_ID_PHYS,
        )
        _cvc = _conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName",
            ROW_CV_PHYS,
        )
        df0 = _scan_adds(
            spark,
            path,
            meta,
            selected,
            keep_positions=True,
            extra_phys_cols=[_idc, _cvc],
        )
        _base = _row_base_map(spark, selected)
        df = (
            df0.join(F.broadcast(_base), _DV_PATH)
            .withColumn(
                _idc,
                F.coalesce(
                    F.col(_idc), F.col("__base_rid") + F.col(_DV_RID)
                ),
            )
            .withColumn(
                _cvc, F.coalesce(F.col(_cvc), F.col("__dflt_rcv"))
            )
            .drop("__base_rid", "__dflt_rcv", _DV_PATH, _DV_RID)
        )
    else:
        df = _scan_adds(spark, path, meta, selected)  # DVs materialize
    total = sum(a.get("size", 0) for a in selected.values())
    n_out = max(1, math.ceil(total / target_file_bytes))
    if zorder_by:
        if len(zorder_by) == 1:
            zkey = F.col(zorder_by[0])
        else:
            from medallion_delta_lake_spark.functions.spatial import (
                morton_key_n,
            )

            # k columns share the 62-bit key: bits each = min(asked,
            # 62 // k). ONE stats pass normalizes every column.
            k = len(zorder_by)
            bits = min(zorder_bits, 62 // k)
            stats = df.agg(
                *[
                    f
                    for c in zorder_by
                    for f in (
                        F.min(F.col(c).cast("double")).alias(f"lo_{c}"),
                        F.max(F.col(c).cast("double")).alias(f"hi_{c}"),
                    )
                ]
            ).first()

            def bucket(col, lo, hi):
                span = (hi - lo) or 1.0
                return F.least(
                    F.lit(2**bits - 1),
                    F.floor(
                        (F.col(col).cast("double") - F.lit(lo))
                        / F.lit(span)
                        * F.lit(2**bits - 1)
                    ).cast("bigint"),
                )

            zkey = morton_key_n(
                [
                    bucket(
                        c,
                        stats[f"lo_{c}"] or 0.0,
                        stats[f"hi_{c}"] or 0.0,
                    )
                    for c in zorder_by
                ],
                bits=bits,
            )
        parts = [F.col(c) for c in part_cols]
        df = (
            df.withColumn("__zkey", zkey)
            .repartitionByRange(n_out, *parts, F.col("__zkey"))
            .sortWithinPartitions(*parts, F.col("__zkey"))
            .drop("__zkey")
        )
    elif part_cols:
        # hash on the partition tuple: each partition's rows land in
        # one task → one output file per partition directory
        df = df.repartition(n_out, *[F.col(c) for c in part_cols])
    else:
        df = df.repartition(n_out)

    now_ms = int(_time.time() * 1000)
    adds = _stage_physical(df, path, meta, part_cols, now_ms)
    for a in adds:
        a["add"]["dataChange"] = False

    def build(version: int) -> list[dict]:
        actions = []
        for rel, old in sorted(selected.items()):
            r = {
                "path": rel,
                "deletionTimestamp": now_ms,
                "dataChange": False,
            }
            if old.get("deletionVector"):
                r["deletionVector"] = old["deletionVector"]
            actions.append({"remove": r})
        actions.extend(adds)
        actions.append(
            {
                "commitInfo": {
                    "operation": "OPTIMIZE",
                    "operationParameters": {
                        "zOrderBy": json.dumps(zorder_by or [])
                    },
                }
            }
        )
        return actions

    # Compaction reads only the files it rewrites, so a lost race
    # rebases unless the interloper removed one of them; concurrent
    # APPENDS never conflict with OPTIMIZE (Delta's own behavior).
    version = _commit_with_rebase(
        path,
        build,
        read_version=snap["version"],
        our_removed=set(selected),
        add_conflicts=lambda add: False,
    )
    return {
        "version": version,
        "files_compacted": len(selected),
        "files_written": len(adds),
    }


def _rows_at_indexes(
    spark: SparkSession,
    path: str,
    meta: dict,
    rel: str,
    add: dict,
    indexes: list[int],
) -> DataFrame:
    """The physical rows of one data file at the given row indexes
    (DV ignored — indexes address the raw file)."""
    bare = {k: v for k, v in add.items() if k != "deletionVector"}
    df = _scan_adds(spark, path, meta, {rel: bare}, keep_positions=True)
    idx = spark.createDataFrame(
        [(int(i),) for i in indexes], f"{_DV_RID} bigint"
    )
    return df.join(F.broadcast(idx), [_DV_RID], "inner").drop(
        _DV_PATH, _DV_RID
    )


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed derived purely from the transaction log — the
    rows each commit inserted and deleted, as the table's columns plus
    ``_change_type`` (``insert`` / ``delete``), ``_commit_version``
    and ``_commit_timestamp`` (Delta's ``table_changes``
    reconstruction path for tables without ``_change_data`` files;
    the timestamp follows :func:`_commit_timestamp`'s preference
    order — ICT, then commitInfo.timestamp, then file mtime — the
    same resolution Delta's own CDF uses).

    Per commit: dataChange=false commits (OPTIMIZE, RESTORE metadata
    shuffles) emit nothing; brand-new files emit their live rows as
    inserts; removed-and-not-re-added files emit their pre-commit live
    rows as deletes; a file re-added with a grown deletion vector
    (DELETE-by-DV) emits exactly the newly-flagged row indexes as
    deletes — and a shrunk DV (RESTORE) emits the resurrected rows as
    inserts.

    Commits carrying ``cdc`` actions (UPDATE/MERGE on tables with
    ``delta.enableChangeDataFeed=true``) are read from their
    ``_change_data`` files INSTEAD — giving paired
    ``update_preimage``/``update_postimage`` rows, Delta's full CDF
    contract. On non-CDF tables an UPDATE still appears as a
    delete+insert pair (same as Delta without the property).

    Raises if a needed commit JSON was already cleaned away. Each
    commit is decoded against its own metaData (schema evolution
    safe). Scale: one stat-free scan per commit's touched files; the
    log walk is driver metadata."""
    from medallion_delta_lake_spark.sources import deletion_vectors as _dv

    log = _log_dir(path)
    current = resolve_snapshot(path)["version"]
    hi = to_version if to_version is not None else current
    frames: list[DataFrame] = []
    empty_schema = None
    for v in range(from_version, hi + 1):
        commit = os.path.join(log, f"{v:020d}.json")
        if not os.path.exists(commit):
            raise FileNotFoundError(
                f"commit {v} of {path} was cleaned; change feed "
                "unavailable before the earliest retained commit"
            )
        actions = [
            json.loads(line)
            for line in open(commit)
            if line.strip()
        ]
        snap_v = resolve_snapshot(path, version_as_of=v)
        meta = snap_v["meta"]
        if empty_schema is None and meta is not None:
            empty_schema = StructType.fromJson(
                json.loads(meta["schemaString"])
            )
        prior = (
            resolve_snapshot(path, version_as_of=v - 1)
            if v > 0
            else {"files": {}}
        )
        ts_us = int(_commit_timestamp(log, v) * 1e6)
        cdcs = [a["cdc"] for a in actions if a.get("cdc")]
        if cdcs:
            # PROTOCOL.md CDF rule: when a commit carries cdc actions,
            # they are the COMPLETE change description for that commit
            # — add/remove are ignored for feed purposes (they would
            # double-count the same rows as unpaired delete+insert).
            schema_v = StructType.fromJson(
                json.loads(meta["schemaString"])
            )
            mapping = _column_mapping(meta, schema_v)
            cdf = spark.read.parquet(
                *[os.path.join(path, c["path"]) for c in cdcs]
            )
            # cdc files carry PHYSICAL names under column mapping;
            # map back to logical. The logical-name fallback (for
            # pre-r9 files that staged logical names) fires ONLY
            # when the file carries no physical-name MARKER (a
            # mapped physical column whose physical name differs
            # from its logical one — upgraded tables keep physical
            # == logical until a rename, so identical pairs prove
            # nothing): a physically-named file missing a field's
            # physical column means the field has no data in that
            # file (NULL) — falling back by logical name there
            # misbinds after a rename + re-add (ADVICE r13; the
            # stream-side read in python_datasource.py applies the
            # same guard)
            staged_logical = not any(
                p in cdf.columns
                for ln, p in mapping.items()
                if p != ln
            )
            sel = [
                F.col(mapping[f.name]).alias(f.name)
                if f.name in mapping and mapping[f.name] in cdf.columns
                else (
                    F.col(f.name).alias(f.name)
                    if staged_logical and f.name in cdf.columns
                    else F.lit(None)
                    .cast(f.dataType)
                    .alias(f.name)
                )
                for f in schema_v.fields
            ]
            frames.append(
                cdf.select(
                    *sel,
                    "_change_type",
                    F.lit(v).cast("bigint").alias("_commit_version"),
                    F.timestamp_micros(F.lit(ts_us)).alias(
                        "_commit_timestamp"
                    ),
                )
            )
            continue
        adds = [
            a["add"]
            for a in actions
            if a.get("add") and a["add"].get("dataChange", True)
        ]
        removes = [
            a["remove"]
            for a in actions
            if a.get("remove") and a["remove"].get("dataChange", True)
        ]
        readded = {a["path"] for a in adds}

        def _tag(df: DataFrame, kind: str) -> DataFrame:
            return df.select(
                "*",
                F.lit(kind).alias("_change_type"),
                F.lit(v).cast("bigint").alias("_commit_version"),
                F.timestamp_micros(F.lit(ts_us)).alias(
                    "_commit_timestamp"
                ),
            )

        new_files = {
            a["path"]: a for a in adds if a["path"] not in prior["files"]
        }
        if new_files:
            frames.append(
                _tag(_scan_adds(spark, path, meta, new_files), "insert")
            )
        for a in adds:
            rel = a["path"]
            if rel not in prior["files"]:
                continue
            old_desc = prior["files"][rel].get("deletionVector")
            new_desc = a.get("deletionVector")
            if old_desc == new_desc:
                continue  # metadata-only re-add: content unchanged
            old_idx = set(
                _dv.dv_row_indexes(path, old_desc) if old_desc else []
            )
            new_idx = set(
                _dv.dv_row_indexes(path, new_desc) if new_desc else []
            )
            newly_deleted = sorted(new_idx - old_idx)
            resurrected = sorted(old_idx - new_idx)
            if newly_deleted:
                frames.append(
                    _tag(
                        _rows_at_indexes(
                            spark, path, meta, rel, a, newly_deleted
                        ),
                        "delete",
                    )
                )
            if resurrected:
                frames.append(
                    _tag(
                        _rows_at_indexes(
                            spark, path, meta, rel, a, resurrected
                        ),
                        "insert",
                    )
                )
        gone = {
            r["path"]: prior["files"][r["path"]]
            for r in removes
            if r["path"] not in readded and r["path"] in prior["files"]
        }
        if gone:
            prior_meta = prior.get("meta") or meta
            frames.append(
                _tag(
                    _scan_adds(spark, path, prior_meta, gone), "delete"
                )
            )
    if not frames:
        if empty_schema is None:
            meta = resolve_snapshot(path)["meta"]
            empty_schema = StructType.fromJson(
                json.loads(meta["schemaString"])
            )
        base = spark.createDataFrame([], empty_schema)
        return base.select(
            "*",
            F.lit("insert").alias("_change_type"),
            F.lit(0).cast("bigint").alias("_commit_version"),
            F.lit(None).cast("timestamp").alias("_commit_timestamp"),
        ).limit(0)
    return reduce(DataFrame.unionByName, frames)


def restore_delta_log(path: str, version: int) -> dict:
    """RESTORE the table to an earlier ``version`` — as a NEW commit
    (the old state becomes the newest state; history is never erased,
    exactly Delta's own RESTORE semantics). Returns
    ``{"version", "files_added", "files_removed"}``.

    The commit removes every currently-live file absent from the
    target snapshot and re-adds every target file missing from (or
    carrying a different deletion vector than) the current one.
    Restoring past files that vacuum already deleted is refused up
    front — file-by-file existence is checked before any action is
    written, matching Delta's missing-file RESTORE error."""
    import time as _time

    target = resolve_snapshot(path, version_as_of=version)
    current = resolve_snapshot(path)
    missing = [
        rel
        for rel in target["files"]
        if not os.path.exists(os.path.join(path, rel))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to version {version}: "
            f"{len(missing)} data files were vacuumed (first: "
            f"{missing[0]})"
        )
    from medallion_delta_lake_spark.sources.deletion_vectors import (
        dv_relative_path,
    )

    for add in target["files"].values():
        desc = add.get("deletionVector")
        rel = dv_relative_path(desc) if desc else None
        if rel and not os.path.exists(os.path.join(path, rel)):
            raise FileNotFoundError(
                f"cannot restore {path} to version {version}: deletion "
                f"vector file {rel} was vacuumed"
            )
    now_ms = int(_time.time() * 1000)
    removes = [
        rel for rel in current["files"] if rel not in target["files"]
    ]
    adds = [
        add
        for rel, add in target["files"].items()
        if current["files"].get(rel) != add
    ]

    def build(v: int) -> list[dict]:
        actions: list[dict] = []
        if target["meta"] != current["meta"] and target["meta"]:
            actions.append({"metaData": target["meta"]})
        actions.extend(
            {"remove": _remove_action(rel, current["files"][rel], now_ms)}
            for rel in removes
        )
        actions.extend({"add": dict(a)} for a in adds)
        actions.append(
            {
                "commitInfo": {
                    "operation": "RESTORE",
                    "operationParameters": {"version": version},
                }
            }
        )
        return actions

    new_version = _commit_version(
        path, build, read_version=current["version"]
    )
    return {
        "version": new_version,
        "files_added": len(adds),
        "files_removed": len(removes),
    }


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY for a log-backed table: one entry per commit
    (newest first) with the operation name/parameters/metrics from
    commitInfo (when present; only sync MERGE commits write metrics so
    far, other entries carry None) and add/remove action counts — the
    audit view the reference exposes through Delta's own
    ``DeltaTable.history()``."""
    log = _log_dir(path)
    out = []
    for v in reversed(_list_versions(log)):
        adds = removes = 0
        info: dict = {}
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("add"):
                    adds += 1
                elif a.get("remove"):
                    removes += 1
                elif a.get("commitInfo"):
                    info = a["commitInfo"]
        out.append(
            {
                "version": v,
                "operation": info.get("operation"),
                "operationParameters": info.get("operationParameters"),
                "operationMetrics": info.get("operationMetrics"),
                "numAddedFiles": adds,
                "numRemovedFiles": removes,
            }
        )
    return out


def write_checkpoint(
    path: str, parts: int | None = None, v2: bool = False
) -> int:
    """Write a parquet checkpoint of the current snapshot plus
    ``_last_checkpoint`` — the log-compaction step that keeps replay
    cost O(actions since checkpoint) instead of O(table lifetime).
    After a checkpoint, pre-checkpoint JSON commits are only needed
    for time travel. Returns the checkpointed version.

    ``parts`` splits the state across the protocol's multi-part layout
    (``{v}.checkpoint.{i}.{n}.parquet``) — at many millions of add
    actions a single parquet file becomes the metadata bottleneck, so
    real writers shard it; part 1 carries protocol/metaData/txn and
    the add actions round-robin across parts.

    ``v2`` writes the protocol's V2 layout instead (round-7): a
    uuid-named MANIFEST (``{v}.checkpoint.{uuid}.parquet``) carrying
    checkpointMetadata/protocol/metaData/txn plus ``sidecar`` pointers
    into ``_delta_log/_sidecars/*.parquet`` files holding the add
    actions — the format v2Checkpoint-feature readers prefer. Writing
    it on a table whose protocol does not yet advertise the feature
    first lands ONE protocol-upgrade commit (feature adoption is a
    table change, exactly how real Delta enables
    ``delta.checkpointPolicy=v2``), so the checkpointed version is
    that commit's. Mutually exclusive with ``parts``.

    Empty maps are encoded as nulls (pyarrow infers dicts as structs
    and parquet rejects childless structs; the reader treats null and
    {} identically)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if v2 and parts:
        raise ValueError("v2 checkpoints shard via sidecars, not parts")
    if v2:
        snap = resolve_snapshot(path)
        proto = snap.get("protocol") or {}
        feats = set(proto.get("readerFeatures") or [])
        if not (
            proto.get("minReaderVersion", 1) >= 3
            and "v2Checkpoint" in feats
        ):
            upgraded = {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(feats | {"v2Checkpoint"}),
                    "writerFeatures": sorted(
                        set(proto.get("writerFeatures") or [])
                        | {"v2Checkpoint"}
                    ),
                }
            }
            _commit_version(
                path,
                lambda v: [
                    upgraded,
                    {
                        "commitInfo": {
                            "operation": "UPGRADE PROTOCOL",
                            "operationParameters": {
                                "feature": "v2Checkpoint"
                            },
                        }
                    },
                ],
                read_version=snap["version"],
            )

    snap = resolve_snapshot(path)
    version = snap["version"]
    log = _log_dir(path)

    def _clean(v):
        if isinstance(v, dict):
            return {k: _clean(x) for k, x in v.items()} or None
        return v

    rows_proto = [
        _clean(snap.get("protocol"))
        or {"minReaderVersion": 1, "minWriterVersion": 2}
    ]
    rows_meta = [_clean(snap["meta"])]
    rows_add = [_clean(a) for a in snap["files"].values()]
    rows_txn = [
        {"appId": app, "version": v}
        for app, v in sorted(snap.get("txns", {}).items())
    ]
    rows_domain = [
        {"domain": d, "configuration": c, "removed": False}
        for d, c in sorted((snap.get("domains") or {}).items())
    ]
    total = 2 + len(rows_add) + len(rows_txn) + len(rows_domain)

    def _write_one(dest: str, proto, meta, adds, txns, domains=()) -> None:
        domains = list(domains)
        n = (
            len(proto)
            + len(meta)
            + len(adds)
            + len(txns)
            + len(domains)
        )
        cols = {
            "protocol": proto + [None] * (n - len(proto)),
            "metaData": [None] * len(proto)
            + meta
            + [None] * (n - len(proto) - len(meta)),
            "add": [None] * (len(proto) + len(meta))
            + adds
            + [None] * (len(txns) + len(domains)),
            "txn": [None] * (n - len(txns) - len(domains))
            + txns
            + [None] * len(domains),
            "domainMetadata": [None] * (n - len(domains)) + domains,
        }
        cols = {
            k: v
            for k, v in cols.items()
            if any(x is not None for x in v)
        }
        if not cols:
            # a part with no actions: zero-row file with an ignorable
            # column so the parquet schema stays valid
            pq.write_table(
                pa.table({"commitInfo": pa.array([], type=pa.string())}),
                dest,
            )
            return
        pq.write_table(
            pa.table({k: pa.array(v) for k, v in cols.items()}), dest
        )

    if v2:
        import time as _time
        import uuid as _uuid

        side_dir = os.path.join(log, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        sc_name = f"{_uuid.uuid4().hex}.parquet"
        sc_dest = os.path.join(side_dir, sc_name)
        if rows_add:
            pq.write_table(pa.table({"add": pa.array(rows_add)}), sc_dest)
        else:  # empty table: schema-valid placeholder (cf. _write_one)
            pq.write_table(
                pa.table(
                    {"commitInfo": pa.array([], type=pa.string())}
                ),
                sc_dest,
            )
        manifest = os.path.join(
            log, f"{version:020d}.checkpoint.{_uuid.uuid4().hex}.parquet"
        )
        ckpt_meta = [{"version": version}]
        sidecars = [
            {
                "path": sc_name,
                "sizeInBytes": os.path.getsize(sc_dest),
                "modificationTime": int(_time.time() * 1000),
            }
        ]
        rows = {
            "checkpointMetadata": ckpt_meta,
            "protocol": rows_proto,
            "metaData": rows_meta,
            "txn": rows_txn,
            "domainMetadata": rows_domain,
            "sidecar": sidecars,
        }
        n = sum(len(v) for v in rows.values())
        cols = {}
        off = 0
        for name, vals in rows.items():
            if not vals:
                continue
            cols[name] = pa.array(
                [None] * off + vals + [None] * (n - off - len(vals))
            )
            off += len(vals)
        pq.write_table(pa.table(cols), manifest)
        info = {"version": version, "size": total}
    elif parts and parts > 1:
        shards: list[list] = [[] for _ in range(parts)]
        for i, a in enumerate(rows_add):
            shards[i % parts].append(a)
        for i in range(1, parts + 1):
            dest = os.path.join(
                log,
                f"{version:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
            )
            if i == 1:
                _write_one(
                    dest,
                    rows_proto,
                    rows_meta,
                    shards[0],
                    rows_txn,
                    rows_domain,
                )
            else:
                _write_one(dest, [], [], shards[i - 1], [])
        info = {"version": version, "size": total, "parts": parts}
    else:
        _write_one(
            os.path.join(log, f"{version:020d}.checkpoint.parquet"),
            rows_proto,
            rows_meta,
            rows_add,
            rows_txn,
            rows_domain,
        )
        info = {"version": version, "size": total}
    tmp = os.path.join(log, "_last_checkpoint.tmp")
    with open(tmp, "w") as fh:
        json.dump(info, fh)
    os.replace(tmp, os.path.join(log, "_last_checkpoint"))
    return version


def vacuum(
    path: str,
    keep_versions: int = 1,
    staging_ttl_s: float = 24 * 3600,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files no longer referenced by the last
    ``keep_versions`` snapshots (the GC step). Time travel further
    back than ``keep_versions`` stops working — exactly Delta's own
    vacuum trade-off, expressed in versions instead of hours so tests
    are deterministic. Returns the deleted relative paths.
    ``dry_run=True`` (VACUUM ... DRY RUN) returns what WOULD be
    deleted without touching anything — the pre-flight every prod
    vacuum should run.

    ``_staging_*`` directories left by crashed writes are removed once
    older than ``staging_ttl_s`` (mtime-judged) — young ones may
    belong to an in-flight writer mid-stage. Like Delta's own VACUUM,
    this must not run concurrently with active writers: a writer's
    moved-but-not-yet-committed files are unreferenced by any snapshot
    and would be collected."""
    import shutil
    import time as _time

    log = _log_dir(path)
    versions = _list_versions(log)
    if not versions:
        return []
    from medallion_delta_lake_spark.sources.deletion_vectors import (
        dv_relative_path,
    )

    keep_from = max(versions) - max(keep_versions - 1, 0)
    referenced: set[str] = set()
    for v in versions:
        if v >= keep_from:
            files = resolve_snapshot(path, version_as_of=v)["files"]
            referenced |= set(files)
            for add in files.values():
                desc = add.get("deletionVector")
                if desc:
                    dv_rel = dv_relative_path(desc)
                    if dv_rel:
                        referenced.add(dv_rel)
            # CDC files belong to a COMMIT, not a snapshot: protect
            # those of every retained commit (the change feed raises
            # for cleaned commits, so older cdc files are garbage)
            commit = os.path.join(log, f"{v:020d}.json")
            if os.path.exists(commit):
                with open(commit) as fh:
                    for line in fh:
                        if line.strip():
                            a = json.loads(line)
                            if a.get("cdc"):
                                referenced.add(a["cdc"]["path"])
    deleted = []
    now = _time.time()
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if (
            entry.startswith("_staging_")
            and os.path.isfile(full)
            and now - os.path.getmtime(full) > staging_ttl_s
        ):
            # a crashed DV writer's un-renamed temp file
            if not dry_run:
                os.remove(full)
            deleted.append(entry)
            continue
        if (
            entry.startswith("_staging_")
            and os.path.isdir(full)
            and now - os.path.getmtime(full) > staging_ttl_s
        ):
            for root, _dirs, names in os.walk(full):
                for name in names:
                    if name.endswith(".parquet"):
                        rel = os.path.relpath(
                            os.path.join(root, name), path
                        ).replace(os.sep, "/")
                        deleted.append(rel)
            if not dry_run:
                shutil.rmtree(full)
    for root, dirs, names in os.walk(path):
        if os.path.basename(root) == "_delta_log" or "_staging_" in root:
            # prune the descent too: _delta_log/_sidecars carries V2
            # checkpoint sidecar parquets — log artifacts, never
            # vacuum-able data files
            dirs[:] = []
            continue
        for name in names:
            is_dv = name.startswith("deletion_vector_") and name.endswith(
                ".bin"
            )
            if not (name.endswith(".parquet") or is_dv):
                continue
            rel = os.path.relpath(os.path.join(root, name), path).replace(
                os.sep, "/"
            )
            if rel not in referenced:
                if not dry_run:
                    os.remove(os.path.join(root, name))
                deleted.append(rel)
    return sorted(deleted)


def convert_to_delta(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
) -> int:
    """CONVERT TO DELTA, in place: turn an existing parquet directory
    (hive-partitioned when ``partition_by`` names the directory keys)
    into a log-backed Delta table by committing protocol + metaData +
    one add action per existing file — **no data file is rewritten or
    moved** (real Delta's CONVERT contract). Schema comes from
    Spark's parquet reader (partition columns typed by path
    inference); per-file stats come from the footers, so data
    skipping works immediately. Returns the committed version (0).

    Scale notes: O(files) driver metadata (the same order as any
    commit) + one footer read per file for stats; zero data I/O."""
    import time as _time
    import uuid

    if is_delta_table(path):
        raise ValueError(f"{path} is already a Delta table")
    partition_by = list(partition_by or [])
    reader = spark.read
    if partition_by:
        reader = reader.option("basePath", path)
    df = reader.parquet(path)
    schema = StructType(
        [
            StructField(f.name, f.dataType, f.nullable)
            for f in df.schema.fields
        ]
    )
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(
            f"partition columns {missing} not found in {path}"
        )
    now_ms = int(_time.time() * 1000)
    adds: list[dict] = []
    for root, _dirs, names in os.walk(path):
        if "_delta_log" in root or "_staging_" in root:
            continue
        for name in names:
            if not name.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, name), path)
            add = {
                "path": rel.replace(os.sep, "/"),
                "partitionValues": _rel_partition_values(
                    rel, partition_by
                ),
                "size": os.path.getsize(os.path.join(path, rel)),
                "modificationTime": now_ms,
                "dataChange": True,
            }
            stats = _parquet_file_stats(os.path.join(path, rel))
            if stats is not None:
                add["stats"] = stats
            adds.append({"add": add})
    if not adds:
        raise FileNotFoundError(f"no parquet files under {path}")

    def build(version: int) -> list[dict]:
        return [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": partition_by,
                    "configuration": {},
                    "createdTime": now_ms,
                }
            },
            *adds,
            {
                "commitInfo": {
                    "operation": "CONVERT",
                    "operationParameters": {
                        "numFiles": len(adds),
                        "partitionedBy": json.dumps(partition_by),
                    },
                }
            },
        ]

    return _commit_version(path, build)


def clone_delta(src: str, dst: str) -> int:
    """SHALLOW CLONE: create a NEW Delta table at ``dst`` whose add
    actions reference the SOURCE's data files by absolute path — zero
    data copy, O(metadata) (+ the source's deletion-vector files,
    which are table-root-relative and therefore copied into the clone
    root so their descriptors stay valid). The clone has its own
    table id, log, and history (version 0 = the clone commit); later
    writes to either table never touch the other's files — a clone
    MERGE/DELETE stages ITS new files under ``dst`` and merely drops
    references to source files. Vacuuming the SOURCE can break a
    clone that still references removed files, exactly real Delta's
    documented shallow-clone caveat."""
    import shutil
    import time as _time
    import uuid

    from medallion_delta_lake_spark.sources.deletion_vectors import (
        dv_relative_path,
    )

    snap = resolve_snapshot(src)
    if snap["meta"] is None:
        raise DeltaProtocolError("source log has no metaData")
    if is_delta_table(dst):
        raise ValueError(f"{dst} is already a Delta table")
    os.makedirs(dst, exist_ok=True)
    now_ms = int(_time.time() * 1000)
    adds = []
    for rel, add in snap["files"].items():
        new_add = dict(add)
        new_add["path"] = os.path.abspath(
            os.path.join(src, rel)
        ).replace(os.sep, "/")
        desc = add.get("deletionVector")
        if desc:
            dv_rel = dv_relative_path(desc)
            if dv_rel:  # storageType "u": copy the bin, keep descriptor
                dest = os.path.join(dst, dv_rel)
                if not os.path.exists(dest):
                    shutil.copy(os.path.join(src, dv_rel), dest)
        adds.append({"add": new_add})
    new_meta = dict(snap["meta"])
    new_meta["id"] = str(uuid.uuid4())

    def build(version: int) -> list[dict]:
        actions: list[dict] = []
        if snap.get("protocol"):
            actions.append({"protocol": snap["protocol"]})
        else:
            actions.append(
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": 2,
                    }
                }
            )
        actions.append({"metaData": new_meta})
        actions.extend(adds)
        actions.append(
            {
                "commitInfo": {
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": src,
                        "sourceVersion": snap["version"],
                    },
                }
            }
        )
        return actions

    return _commit_version(dst, build)


def cleanup_log(path: str, keep_versions: int = 10) -> list[str]:
    """Transaction-LOG retention (the sibling of :func:`vacuum`, which
    collects data files): delete commit JSONs no longer needed for
    snapshot resolution or the last ``keep_versions`` of time travel,
    plus checkpoints they superseded — Delta's
    ``delta.logRetentionDuration`` cleanup, expressed in versions so
    tests are deterministic. A commit JSON is deletable only when a
    checkpoint AT OR BEFORE the retention cutoff covers it (replay
    must never need a deleted commit). Returns deleted file names.

    Time travel below the cutoff stops working, exactly like real
    Delta's cleaned logs; :func:`table_changes` raises for cleaned
    ranges (documented contract)."""
    log = _log_dir(path)
    versions = _list_versions(log)
    if not versions:
        return []
    ckpts = _discover_checkpoints(log)
    if not ckpts:
        return []  # nothing can be cleaned without a covering checkpoint
    cutoff = max(versions) - max(keep_versions - 1, 0)
    # newest checkpoint at or before the cutoff — JSONs strictly below
    # it are replay-redundant AND outside the retention window
    covered = [c for c in sorted(ckpts) if c <= cutoff]
    if not covered:
        return []
    base = covered[-1]
    deleted: list[str] = []
    for v in versions:
        if v < base:
            os.remove(os.path.join(log, f"{v:020d}.json"))
            deleted.append(f"{v:020d}.json")
    # checkpoints superseded by `base` (and their parts/manifests);
    # V2 manifests' sidecars go with them
    import pyarrow.parquet as pq

    for c in sorted(ckpts):
        if c >= base:
            continue
        for fname in ckpts[c]:
            full = os.path.join(log, fname)
            if not os.path.exists(full):
                continue
            try:
                tbl = pq.read_table(full, columns=None)
                if "sidecar" in tbl.column_names:
                    for sc in tbl.column("sidecar").to_pylist():
                        if sc and sc.get("path"):
                            scf = os.path.join(
                                log, "_sidecars", sc["path"]
                            )
                            if os.path.exists(scf):
                                os.remove(scf)
                                deleted.append(
                                    f"_sidecars/{sc['path']}"
                                )
            except Exception:
                pass
            os.remove(full)
            deleted.append(fname)
    return sorted(deleted)


def changes_since(
    spark: SparkSession, path: str, last_version: int
) -> tuple[DataFrame | None, int]:
    """Incremental consumption API — the poll-side of a Delta
    streaming source: returns ``(changes, current_version)`` where
    ``changes`` is :func:`table_changes` for every commit AFTER
    ``last_version`` (None when the table has not advanced). A
    consumer persists ``current_version`` as its cursor and calls
    again later; each commit's rows are tagged ``_change_type`` /
    ``_commit_version``, so exactly-once downstream processing needs
    only the cursor — the same contract as delta-spark's
    ``readChangeFeed`` with ``startingVersion``."""
    current = resolve_snapshot(path)["version"]
    if current <= last_version:
        return None, current
    return (
        table_changes(
            spark, path, last_version + 1, to_version=current
        ),
        current,
    )


def enable_column_mapping(path: str) -> int:
    """Turn on ``name``-mode column mapping for an existing log-backed
    table — the prerequisite for metadata-only column renames. Every
    field's ``physicalName`` is set to its CURRENT name, so every
    already-written data file stays valid; ids are assigned
    ordinally; the protocol advances to a mapping-capable version
    (reader 2 / writer 5, or the ``columnMapping`` feature flag when
    the table already runs table features). Idempotent: a table
    already in name mode returns its current version unchanged."""
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    conf = dict(meta.get("configuration") or {})
    if conf.get("delta.columnMapping.mode", "none") == "name":
        return snap["version"]
    if conf.get("delta.columnMapping.mode", "none") != "none":
        raise DeltaProtocolError(
            "table already uses a different columnMapping mode"
        )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    new_fields = []
    for i, f in enumerate(schema.fields, start=1):
        md = dict(f.metadata or {})
        md["delta.columnMapping.id"] = i
        md["delta.columnMapping.physicalName"] = f.name
        new_fields.append(
            StructField(f.name, f.dataType, f.nullable, md)
        )
    conf["delta.columnMapping.mode"] = "name"
    conf["delta.columnMapping.maxColumnId"] = str(len(schema.fields))
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(new_fields).json()
    new_meta["configuration"] = conf

    proto = snap.get("protocol") or {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    actions: list[dict] = []
    if proto.get("minReaderVersion", 1) >= 3:
        feats_r = set(proto.get("readerFeatures") or [])
        if "columnMapping" not in feats_r:
            actions.append(
                {
                    "protocol": {
                        **proto,
                        "readerFeatures": sorted(
                            feats_r | {"columnMapping"}
                        ),
                        "writerFeatures": sorted(
                            set(proto.get("writerFeatures") or [])
                            | {"columnMapping"}
                        ),
                    }
                }
            )
    elif (
        proto.get("minReaderVersion", 1) < 2
        or proto.get("minWriterVersion", 2) < 5
    ):
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": max(
                        2, proto.get("minReaderVersion", 1)
                    ),
                    "minWriterVersion": max(
                        5, proto.get("minWriterVersion", 2)
                    ),
                }
            }
        )
    actions.append({"metaData": new_meta})
    actions.append(
        {
            "commitInfo": {
                "operation": "SET COLUMN MAPPING",
                "operationParameters": {"mode": "name"},
            }
        }
    )
    return _commit_version(
        path, lambda _v: actions, read_version=snap["version"]
    )


def rename_column(path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN as a METADATA-ONLY commit — no
    data file is touched: under name-mode column mapping the files
    keep their physical names and only the logical name in the
    schemaString changes (the operation that forces a full table
    rewrite on plain parquet tables). Auto-enables mapping on first
    use. Renaming a partition column updates ``partitionColumns``
    too; partitionValues stay keyed by the unchanged physical name."""
    enable_column_mapping(path)
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in {path} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists in {path}")
    new_fields = [
        StructField(new if f.name == old else f.name, f.dataType,
                    f.nullable, dict(f.metadata or {}))
        for f in schema.fields
    ]
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(new_fields).json()
    new_meta["partitionColumns"] = [
        new if c == old else c
        for c in (meta.get("partitionColumns") or [])
    ]
    actions = [
        {"metaData": new_meta},
        {
            "commitInfo": {
                "operation": "RENAME COLUMN",
                "operationParameters": {"from": old, "to": new},
            }
        },
    ]
    return _commit_version(
        path, lambda _v: actions, read_version=snap["version"]
    )



def add_column(
    path: str, name: str, dtype: str, comment: str | None = None
) -> int:
    """ALTER TABLE ... ADD COLUMN as a METADATA-ONLY commit: the new
    field appends to the schemaString (nullable — existing files
    null-fill on read, the same contract as mergeSchema appends) and
    no data file is touched. Under column mapping the field gets a
    FRESH physical name and the next column id, so a previously
    dropped same-named column's bytes can never resurrect."""
    from pyspark.sql.types import _parse_datatype_string

    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    if name in [f.name for f in schema.fields]:
        raise ValueError(f"column {name!r} already exists in {path}")
    dt = _parse_datatype_string(dtype)
    md: dict = {}
    if comment:
        md["comment"] = comment
    conf = dict(meta.get("configuration") or {})
    if conf.get("delta.columnMapping.mode", "none") == "name":
        import uuid

        next_id = int(conf.get("delta.columnMapping.maxColumnId", 0)) + 1
        md["delta.columnMapping.id"] = next_id
        md["delta.columnMapping.physicalName"] = (
            f"col-{uuid.uuid4().hex}"
        )
        conf["delta.columnMapping.maxColumnId"] = str(next_id)
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(
        list(schema.fields) + [StructField(name, dt, True, md)]
    ).json()
    new_meta["configuration"] = conf
    actions = [
        {"metaData": new_meta},
        {
            "commitInfo": {
                "operation": "ADD COLUMNS",
                "operationParameters": {
                    "columns": json.dumps([{name: dtype}])
                },
            }
        },
    ]
    return _commit_version(
        path, lambda _v: actions, read_version=snap["version"]
    )


def drop_column(path: str, name: str) -> int:
    """ALTER TABLE ... DROP COLUMN — a LOGICAL drop under column
    mapping (auto-enabled, same as rename): the field leaves the
    schemaString, its bytes stay in the data files until files rewrite
    for other reasons (delta-spark's contract; REORG/OPTIMIZE is the
    physical purge). Refuses partition columns, the last remaining
    column, and columns referenced by CHECK constraints or generated
    columns — dropping those would silently change write-path
    semantics."""
    import re as _re

    enable_column_mapping(path)
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if name not in names:
        raise ValueError(f"no column {name!r} in {path} (have {names})")
    if name in (meta.get("partitionColumns") or []):
        raise ValueError(
            f"cannot drop partition column {name!r}; repartition the "
            "table first"
        )
    if len(names) == 1:
        raise ValueError("cannot drop the only column of a table")
    word = _re.compile(rf"(?<![A-Za-z0-9_`]){_re.escape(name)}(?![A-Za-z0-9_])")
    for cname, expr in _check_constraints(meta).items():
        if word.search(expr):
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint "
                f"{cname!r} ({expr}); drop the constraint first"
            )
    for gcol, gexpr in _generated_columns(meta).items():
        if gcol != name and word.search(gexpr):
            raise ValueError(
                f"column {name!r} feeds generated column {gcol!r} "
                f"({gexpr}); drop that column first"
            )
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(
        [f for f in schema.fields if f.name != name]
    ).json()
    actions = [
        {"metaData": new_meta},
        {
            "commitInfo": {
                "operation": "DROP COLUMNS",
                "operationParameters": {"columns": json.dumps([name])},
            }
        },
    ]
    return _commit_version(
        path, lambda _v: actions, read_version=snap["version"]
    )


def general_merge_state(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    clauses: list[dict],
    out_cols: list[str],
    file_col: str | None = None,
    emit_changes: bool = False,
) -> DataFrame:
    """Row classification of a general MERGE as ONE declarative
    full-outer-join plan: every target/source pair gets its post-merge
    column values (ordered first-true clause semantics, conditions and
    assignments as SQL over the ``d``/``s`` aliases) plus ``_keep``
    (row survives), ``_file`` (the target row's physical file when
    ``file_col`` names one) and ``_change`` (the action that fired:
    ``insert`` / ``update`` / ``delete``, ``none`` when no clause
    did) — the classified frame :func:`_merge_commit` writes from.
    ``emit_changes`` adds ``_pre``, the target row's old values, for
    the change data feed. Pure DataFrame algebra — alias-qualified
    expressions, no temp views, nothing interpreted per row."""
    d = target.withColumn("_d_ex", F.lit(1)).alias("d")
    s = source.withColumn("_s_ex", F.lit(1)).alias("s")
    on = reduce(
        lambda a, b: a & b,
        [F.expr(f"d.`{k}` <=> s.`{k}`") for k in keys],
    )
    j = d.join(s, on, "full_outer")

    def chain(kind: str, fire_fmt, default: str) -> str:
        """First-true CASE over the clauses of one match class."""
        arms = []
        for i, cl in enumerate(clauses):
            if cl["when"] != kind:
                continue
            cond = cl.get("condition") or "TRUE"
            arms.append(f"WHEN ({cond}) THEN {fire_fmt(i, cl)}")
        if not arms:
            return default
        return "CASE " + " ".join(arms) + f" ELSE {default} END"

    matched_pred = "d._d_ex IS NOT NULL AND s._s_ex IS NOT NULL"

    def val(col: str) -> str:
        m = chain(
            "matched",
            lambda i, cl: (
                (cl.get("set") or {}).get(col, f"d.`{col}`")
                if cl["action"] == "update"
                else "NULL"  # deleted rows are filtered by _keep
            ),
            f"d.`{col}`",
        )
        # INSERT with no explicit values = delta-spark's insertAll():
        # each target column takes s.<col> when the source has it
        src_cols = set(source.columns)
        ins_default = f"s.`{col}`" if col in src_cols else "NULL"
        n = chain(
            "not_matched",
            lambda i, cl: (
                (cl["values"].get(col, "NULL"))
                if cl.get("values")
                else ins_default
            ),
            "NULL",
        )
        b = chain(
            "not_matched_by_source",
            lambda i, cl: (
                (cl.get("set") or {}).get(col, f"d.`{col}`")
                if cl["action"] == "update"
                else "NULL"
            ),
            f"d.`{col}`",
        )
        return (
            f"CASE WHEN {matched_pred} THEN {m} "
            f"WHEN s._s_ex IS NOT NULL THEN {n} ELSE {b} END"
        )

    keep = (
        f"CASE WHEN {matched_pred} THEN "
        + chain(
            "matched",
            lambda i, cl: str(cl["action"] == "update").upper(),
            "TRUE",
        )
        + " WHEN s._s_ex IS NOT NULL THEN "
        + chain("not_matched", lambda i, cl: "TRUE", "FALSE")
        + " ELSE "
        + chain(
            "not_matched_by_source",
            lambda i, cl: str(cl["action"] == "update").upper(),
            "TRUE",
        )
        + " END"
    )

    def acted(i: int, cl: dict) -> str:
        return "'update'" if cl["action"] == "update" else "'delete'"

    change = (
        f"CASE WHEN {matched_pred} THEN "
        + chain("matched", acted, "'none'")
        + " WHEN s._s_ex IS NOT NULL THEN "
        + chain("not_matched", lambda i, cl: "'insert'", "'none'")
        + " ELSE "
        + chain("not_matched_by_source", acted, "'none'")
        + " END"
    )
    cols = [F.expr(val(c)).alias(c) for c in out_cols]
    cols.append(F.expr(keep).alias("_keep"))
    cols.append(
        F.expr(f"d.`{file_col}`").alias("_file")
        if file_col
        else F.lit(None).cast("string").alias("_file")
    )
    cols.append(F.expr(change).alias("_change"))
    if emit_changes:
        # the target row's OLD values: the preimage an update/delete
        # cdc file needs
        pre_struct = (
            "CASE WHEN d._d_ex IS NOT NULL THEN struct("
            + ", ".join(
                f"d.`{c}` AS `{c}`"
                for c in target.columns
                if c in out_cols
            )
            + ") ELSE NULL END"
        )
        cols.append(F.expr(pre_struct).alias("_pre"))
    return j.select(*cols)


def merge_delta_log(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    clauses: list[dict],
) -> int:
    """GENERAL Delta MERGE with ordered clause semantics — the full
    ``whenMatched`` / ``whenNotMatched`` / ``whenNotMatchedBySource``
    surface delta-spark exposes (the engine's generic ``upsert`` is
    the SCD-1 special case). Each clause is a dict::

        {"when": "matched" | "not_matched" | "not_matched_by_source",
         "action": "update" | "delete" | "insert",
         "condition": SQL over aliases s (source) and d (target), or None,
         "set"/"values": {column: SQL over s and d}}

    Semantics (Delta's): per target/source row pair, the FIRST clause
    of its match class whose condition holds fires; no clause firing
    means the row is kept (matched / by-source) or not inserted
    (not-matched). Conditions and assignments are ordinary SQL — they
    compile into ONE declarative full-outer-join query Catalyst
    optimizes; nothing is interpreted per row.

    Execution is FILE-SCOPED like the SCD-1 path — it is the same
    executor (:func:`_merge_file_scoped` then :func:`_merge_commit`):
    keys match null-safely (``<=>``); without a
    ``not_matched_by_source`` clause the target scan is pruned to the
    files whose logged key ranges overlap the source's (a file whose
    range misses every source key cannot match); the classified join
    is materialized once, only files where some clause actually fired
    are rewritten (plus new files for inserts), and everything else
    rides through the commit. The commit carries Delta-style
    ``operationMetrics`` (rows inserted/updated/deleted, files
    added/removed, output rows, execution ms) and, on a CDF table,
    ``_change_data`` files. Multiple source rows matching one target
    key raise (Delta's multiple-match error). Key columns cannot be
    assigned (a changed ON value makes the match self-referential —
    same restriction as the engine's upsert; real Delta allows it with
    subtle semantics we refuse rather than approximate).

    Invariants (appendOnly / NOT NULL / CHECK / generated columns)
    are enforced on the merged output of rewritten files + inserts."""
    import time as _time

    started = _time.monotonic()
    kinds = {"matched", "not_matched", "not_matched_by_source"}
    for cl in clauses:
        if cl.get("when") not in kinds:
            raise ValueError(f"bad clause 'when': {cl!r}")
        act = cl.get("action")
        if cl["when"] == "matched" and act not in ("update", "delete"):
            raise ValueError(f"matched clause must update/delete: {cl!r}")
        if cl["when"] == "not_matched" and act != "insert":
            raise ValueError(f"not_matched clause must insert: {cl!r}")
        if cl["when"] == "not_matched_by_source" and act not in (
            "update",
            "delete",
        ):
            raise ValueError(
                f"not_matched_by_source clause must update/delete: {cl!r}"
            )
        # UPDATE may not reassign the ON keys (a changed match value
        # is self-referential); INSERT must of course provide them
        for col in cl.get("set") or {}:
            if col in keys:
                raise ValueError(
                    f"clause assigns key column {col!r}; key updates "
                    "are not supported"
                )

    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    _refuse_if_append_only(meta, path, "MERGE")
    # multiple source matches per key = Delta's runtime error
    dup = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"source has multiple rows for key {tuple(dup[0])[:-1]}; "
            "Delta MERGE requires at most one source match per target row"
        )
    return _merge_file_scoped(
        spark,
        source,
        path,
        keys,
        clauses,
        snap,
        {
            "predicate": json.dumps(keys),
            "clauses": len(clauses),
            "scope": "file-general",
        },
        started,
    )


def update_delta_log(
    spark: SparkSession,
    path: str,
    filters: list[tuple],
    assignments: dict[str, str],
) -> dict:
    """UPDATE ... SET ... WHERE for a log-backed table — the third
    member of the DML triad (DELETE-by-DV and MERGE already exist).
    ``filters`` is the same ``(column, op, value)`` conjunction the
    DELETE takes (stats/partition pruning applies identically);
    ``assignments`` maps column → SQL expression over the row's own
    columns. Only files PROVABLY containing a matched row are
    rewritten — candidates come from data skipping, then one scan
    marks the files with actual matches; everything else rides
    through. Returns ``{"version", "updated_rows",
    "files_rewritten"}``.

    Generated columns whose inputs an assignment touches are
    RECOMPUTED (explicitly assigned ones are validated instead);
    NOT NULL / CHECK invariants are enforced on the rewritten
    content. A changed partition-column value moves rows between
    directories via the normal hive staging."""
    import time as _time

    if not filters:
        raise ValueError("refusing UPDATE with no predicate")
    for f in filters:
        if len(f) != 3 or f[1] not in _SKIP_OPS:
            raise ValueError(f"bad filter triple: {f!r}")
    if not assignments:
        raise ValueError("UPDATE needs at least one assignment")
    snap = resolve_snapshot(path)
    meta = snap["meta"]
    if meta is None:
        raise DeltaProtocolError("log contains no metaData action")
    _refuse_if_append_only(meta, path, "UPDATE")
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    out_cols = [f.name for f in schema.fields]
    unknown = sorted(set(assignments) - set(out_cols))
    if unknown:
        raise ValueError(f"assignments to unknown columns: {unknown}")
    mapping = _column_mapping(meta, schema)
    phys = lambda c: mapping.get(c, c)  # noqa: E731
    part_cols = meta.get("partitionColumns") or []
    phys_filters = [(phys(c), op, v) for c, op, v in filters]
    phys_parts = [phys(c) for c in part_cols]
    cand = {
        rel: add
        for rel, add in snap["files"].items()
        if not _file_can_skip(add, phys_filters, phys_parts)
    }
    cond = _filter_cond(filters) if cand else F.lit(False)
    touched: dict = {}
    updated_rows = 0
    if cand:
        scanned = _scan_adds(spark, path, meta, cand, keep_positions=True)
        hits = (
            scanned.filter(cond)
            .groupBy(_DV_PATH)
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        touched = {r[_DV_PATH]: cand[r[_DV_PATH]] for r in hits}
        updated_rows = sum(r["_n"] for r in hits)
    now_ms = int(_time.time() * 1000)
    adds: list[dict] = []
    cdc_actions: list[dict] = []
    if touched:
        rows = _scan_adds(spark, path, meta, touched)
        cdf_on = _cdf_enabled(meta)
        if cdf_on:
            # r15 optimization (guide §5 caching a reused frame): with
            # CDF on, the touched-file content feeds THREE jobs — the
            # rewrite write plus the update_preimage and
            # update_postimage sides of the cdc staging union. Cache
            # it (MEMORY_AND_DISK) so the parquet scan of the touched
            # files runs once; unpersisted right after the cdc write.
            # Locally the wall win is modest (~0.3 s warm — the
            # page cache already absorbed the repeat scans and the
            # three fixed job overheads dominate); at scale the
            # touched files are NOT in any page cache, so this is
            # 3 cold object-store reads → 1.
            rows = rows.cache()
        matched = F.coalesce(cond, F.lit(False))
        gen = _generated_columns(meta)
        types = {f.name: f.dataType for f in schema.fields}
        stale_gen = [c for c in gen if c not in assignments]

        def _apply_update(df: DataFrame) -> DataFrame:
            out = df.select(
                *[
                    (
                        F.when(
                            matched,
                            F.expr(assignments[c]).cast(types[c]),
                        )
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in assignments
                        else F.col(c)
                    )
                    for c in out_cols
                ]
            )
            # recompute generated columns the update may have staled
            # (explicitly assigned ones are validated by invariants)
            if stale_gen:
                out = _apply_generated_columns(
                    out.drop(*stale_gen), meta
                ).select(*out_cols)
            return out

        # ADVICE r15: unpersist in a finally so an invariant violation
        # or staging failure cannot leak the cached frame for the life
        # of the session.
        try:
            content = _apply_update(rows)
            _enforce_invariants(content, meta, path)
            adds = _stage_physical(content, path, meta, part_cols, now_ms)
            if cdf_on:
                # paired images for CDC consumers (VERDICT r7 #5): the
                # matched rows before and after the assignments
                hit = rows.filter(matched)
                pre = hit.select(
                    *out_cols,
                    F.lit("update_preimage").alias("_change_type"),
                )
                post = _apply_update(hit).select(
                    *out_cols,
                    F.lit("update_postimage").alias("_change_type"),
                )
                cdc_actions = _stage_cdc_files(
                    pre.unionByName(post), path, now_ms, meta
                )
        finally:
            if cdf_on:
                rows.unpersist()

    def build(version: int) -> list[dict]:
        actions = [
            {"remove": _remove_action(rel, touched[rel], now_ms)}
            for rel in touched
        ]
        actions.extend(adds)
        actions.extend(cdc_actions)
        actions.append(
            {
                "commitInfo": {
                    "operation": "UPDATE",
                    "operationParameters": {
                        "predicate": json.dumps(
                            [[c, op, str(v)] for c, op, v in filters]
                        ),
                        "filesRewritten": len(touched),
                    },
                }
            }
        )
        return actions

    version = _commit_with_rebase(
        path,
        build,
        read_version=snap["version"],
        our_removed=set(touched),
        add_conflicts=lambda add: not _file_can_skip(
            add, phys_filters, phys_parts
        ),
    )
    return {
        "version": version,
        "updated_rows": updated_rows,
        "files_rewritten": len(touched),
    }


def table_detail(path: str) -> dict:
    """DESCRIBE DETAIL: one metadata summary of the current snapshot —
    numFiles, total sizeInBytes, numRows (from logged stats; None when
    any file lacks them), partitionColumns, table properties, feature
    protocol, version and table id. Pure log metadata, no data I/O."""
    snap = resolve_snapshot(path)
    meta = snap["meta"] or {}
    files = snap["files"]
    n_rows: int | None = 0
    size = 0
    dv_rows = 0
    for add in files.values():
        size += int(add.get("size") or 0)
        st = add.get("stats")
        st = json.loads(st) if isinstance(st, str) else (st or {})
        if n_rows is not None and st.get("numRecords") is not None:
            n_rows += int(st["numRecords"])
        else:
            n_rows = None
        desc = add.get("deletionVector")
        if desc:
            dv_rows += int(desc.get("cardinality") or 0)
    if n_rows is not None:
        n_rows -= dv_rows
    return {
        "format": (meta.get("format") or {}).get("provider", "parquet"),
        "id": meta.get("id"),
        "version": snap["version"],
        "numFiles": len(files),
        "sizeInBytes": size,
        "numRows": n_rows,
        "numDeletionVectors": sum(
            1 for a in files.values() if a.get("deletionVector")
        ),
        "partitionColumns": meta.get("partitionColumns") or [],
        "properties": meta.get("configuration") or {},
        "protocol": snap.get("protocol"),
    }


def maybe_checkpoint(path: str, interval: int = 10) -> int | None:
    """Auto-checkpoint policy (Delta's ``checkpointInterval``): write
    a checkpoint when ``interval`` or more commits have landed since
    the last one (or ever, for a young table past the interval).
    Returns the checkpointed version, or None when nothing was due —
    the call writers make after each commit to keep replay O(interval)
    without thinking about it."""
    log = _log_dir(path)
    versions = _list_versions(log)
    if not versions:
        return None
    last_ckpt = max(_discover_checkpoints(log), default=-1)
    if versions[-1] - last_ckpt >= interval:
        return write_checkpoint(path)
    return None


def maybe_compact_log(
    path: str, interval: int = 10
) -> tuple[int, int] | None:
    """Auto log-compaction policy (the cheap sibling of
    :func:`maybe_checkpoint` — delta-spark's minorCompaction.interval):
    when ``interval`` consecutive commits since the last compaction /
    checkpoint have no compaction covering them, write ONE
    ``{start}.{end}.compacted.json`` over that range. Keeps replay
    O(commits/interval) file reads between checkpoints without the
    cost of a full state snapshot. Returns the compacted (start, end)
    range, or None when nothing was due."""
    log = _log_dir(path)
    versions = _list_versions(log)
    if not versions:
        return None
    covered = max(
        [e for _s, e in _discover_compactions(log)]
        + [max(_discover_checkpoints(log), default=-1)],
        default=-1,
    )
    start = covered + 1
    pending = [v for v in versions if v >= start]
    if len(pending) >= interval and pending == list(
        range(start, start + len(pending))
    ):
        end = start + interval - 1
        write_log_compaction(path, start, end)
        return (start, end)
    return None


def repair_table(path: str, dry_run: bool = False) -> dict:
    """FSCK REPAIR TABLE: drop add actions whose data files (or
    deletion-vector files) are MISSING from storage — the recovery
    step after an out-of-band deletion (someone rm'd files, an
    over-eager external cleaner, a restored-from-partial-backup
    table). A missing data file makes every read of the table throw;
    repairing commits removes for the dangling references so the rest
    of the table is readable again (data in those files is lost
    either way — repair makes the loss explicit and bounded).
    ``dry_run=True`` only reports. Returns ``{"version" (or None),
    "dangling": [...]}."""
    from medallion_delta_lake_spark.sources.deletion_vectors import (
        dv_relative_path,
    )
    import time as _time

    snap = resolve_snapshot(path)
    dangling = []
    for rel, add in snap["files"].items():
        fpath = (
            rel if os.path.isabs(rel) else os.path.join(path, rel)
        )
        missing = not os.path.exists(fpath)
        if not missing:
            desc = add.get("deletionVector")
            if desc:
                dv_rel = dv_relative_path(desc)
                if dv_rel and not os.path.exists(
                    os.path.join(path, dv_rel)
                ):
                    missing = True  # DV gone: rows can't be subtracted
        if missing:
            dangling.append(rel)
    if dry_run or not dangling:
        return {"version": None, "dangling": sorted(dangling)}
    now_ms = int(_time.time() * 1000)

    def build(version: int) -> list[dict]:
        actions = [
            {
                "remove": _remove_action(
                    rel, snap["files"][rel], now_ms
                )
            }
            for rel in dangling
        ]
        actions.append(
            {
                "commitInfo": {
                    "operation": "FSCK",
                    "operationParameters": {
                        "numRemovedFiles": len(dangling)
                    },
                }
            }
        )
        return actions

    version = _commit_version(path, build, read_version=snap["version"])
    return {"version": version, "dangling": sorted(dangling)}
