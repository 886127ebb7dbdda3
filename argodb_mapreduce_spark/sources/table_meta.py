"""Spark-free table metadata shared by the versioned store and the pyds
DataSource: the planner's and record reader's metadata jobs, one copy
each (ArgodbMapreduceInputFormat.java:104-199,295,
ArgodbMapreduceRecordReader.java:172-198).

* **Stats and pruning.** :func:`stat_decode`, :func:`coerce_literal`
  and :func:`stats_may_match`: the conservative min/max predicate test
  for manifest segments, pyds files and parquet row groups
  (:func:`select_row_groups`).
* **Hive branches.** :data:`HIVE_NULL`, :func:`decode_branch`,
  :func:`decode_part_value`, :func:`walk_partition_files` and
  :func:`parts_of_file`: directory branch to typed partition value;
  :func:`segment_of` finds the segment that holds a file.
* **Paths and deletion vectors.** :func:`local_path` turns a
  ``_metadata.file_path`` into a filesystem path; :func:`dv_rows`
  reads a DV sidecar with pyarrow and :func:`dv_positions` keys it by
  local path; :func:`segment_files` lists a
  segment's files with their partition values.
* **Versions and the change feed.** :func:`entry_at` resolves a version
  (or the head) to its manifest entry. :func:`change_legs` is the one
  change-feed planner: it classifies each version's transition and
  lists its change legs, which the batch ``versioned.change_feed`` turns
  into Spark frames and the streaming CDF reader into partitions
  (ArgodbMapreduceInputFormat.java:104-199 plans, the record reader
  reads).
* **Sidecars.** :func:`read_properties`, :func:`column_mapping` and
  :func:`read_keys_sidecar`.
* **Key kit.** :func:`key_fingerprint`, the HMAC envelope
  (:func:`hmac_wrap`/:func:`hmac_unwrap`), :func:`resolve_wrap_key`,
  :func:`check_key_fp` and the parquet modular encryption properties.

The module imports only the standard library and pyarrow. The
Spark-facing modules that import it register it with cloudpickle's
``register_pickle_by_value``, so task closures and pickled DataSource
classes carry these functions with them: Python workers whose
``sys.path`` lacks this package run them unchanged.
"""

import base64
import datetime as _dt
import decimal
import glob
import hashlib
import hmac
import json
import os
from urllib.parse import unquote

PROPERTIES = "_properties.json"
KEYS_SIDECAR = "_keys.json"

# ---------------------------------------------------------------------------
# Stats and pruning
# ---------------------------------------------------------------------------

#: op -> (min, max, literal) -> True when no value in [min, max] can
#: satisfy ``value op literal``.
_EXCLUDES = {
    "<": lambda mn, mx, lit: not mn < lit,
    "<=": lambda mn, mx, lit: not mn <= lit,
    ">": lambda mn, mx, lit: not mx > lit,
    ">=": lambda mn, mx, lit: not mx >= lit,
    "=": lambda mn, mx, lit: not mn <= lit <= mx,
}
#: Supported pruning operators: predicate (col, op, literal).
PRUNE_OPS = tuple(_EXCLUDES)


def _naive_utc(v):
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def stat_decode(v):
    """A manifest stat value (tagged dict for dates and timestamps) as a
    Python value; untagged values (and parquet footer stats) pass
    through unchanged, except that a tz-aware timestamp (pyarrow's
    footer stats of a UTC-adjusted column) becomes naive UTC, the form
    manifest stats and pruning literals take."""
    if isinstance(v, dict):
        if v["t"] == "ts":
            return _dt.datetime.fromisoformat(v["v"])
        if v["t"] == "date":
            return _dt.date.fromisoformat(v["v"])
        raise ValueError(f"unknown stat tag {v['t']!r}")
    return _naive_utc(v)


def coerce_literal(lit, stat_sample):
    """Make a pruning literal comparable with a decoded stat value: ISO
    strings parse against date/timestamp stats, a date widens to
    midnight against timestamp stats, and a tz-aware datetime becomes
    naive UTC (the form manifest timestamp stats are stored in)."""
    if isinstance(stat_sample, _dt.datetime) and isinstance(lit, str):
        lit = _dt.datetime.fromisoformat(lit)
    elif isinstance(stat_sample, _dt.datetime) and type(lit) is _dt.date:
        lit = _dt.datetime(lit.year, lit.month, lit.day)
    elif type(stat_sample) is _dt.date and isinstance(lit, str):
        lit = _dt.date.fromisoformat(lit)
    return _naive_utc(lit)


def check_ops(predicates) -> None:
    """Raise ``ValueError`` on any operator outside :data:`PRUNE_OPS`."""
    for _col, op, _lit in predicates:
        if op not in PRUNE_OPS:
            raise ValueError(f"unsupported prune op {op!r}; use one of {PRUNE_OPS}")


_NUMBERS = (int, float, decimal.Decimal)


def _mixed_numeric(a, b) -> bool:
    return (
        isinstance(a, _NUMBERS) and isinstance(b, _NUMBERS)
        and not isinstance(a, bool) and not isinstance(b, bool)
        and type(a) is not type(b)
    )


def stats_may_match(stats, predicates) -> bool:
    """Conservative min/max test: False ONLY when ``stats`` ({col:
    [min, max]}, manifest-encoded or already decoded) provably exclude
    every row for some predicate (AND semantics). Missing stats, a
    column without stats, and a literal that cannot be compared with
    the stats all keep. A numeric literal of another kind than the
    stats (int against float) must be excluded both exactly and in
    double precision, Spark's promotion for the residual filter."""
    check_ops(predicates)
    if not stats:
        return True
    for col, op, lit in predicates:
        if col not in stats:
            continue
        mn, mx = stat_decode(stats[col][0]), stat_decode(stats[col][1])
        try:
            lit = coerce_literal(lit, mn)
            excludes = _EXCLUDES[op]
            if not excludes(mn, mx, lit):
                continue
            if _mixed_numeric(mn, lit) and not excludes(
                float(mn), float(mx), float(lit)
            ):
                continue
        except (TypeError, ValueError, ArithmeticError):
            continue  # incomparable or malformed literal: keep
        return False
    return True


def select_row_groups(pf, predicates):
    """Row-group skipping, one granularity below the manifest's file
    stats: ``(kept row-group indices, their file-global start
    offsets)`` for a ``pyarrow.parquet.ParquetFile``, by
    :func:`stats_may_match` over each group's footer statistics.
    Offsets stay file-global so deletion-vector masking by row
    position survives skipped groups. Only the predicate columns'
    chunk metadata is touched: an encrypted column's is unreadable
    without its key."""
    md = pf.metadata
    wanted = {c for c, _op, _lit in predicates}
    cols = [
        (md.schema.column(j).path, j)
        for j in range(md.num_columns)
        if md.schema.column(j).path in wanted
    ]
    keep, offsets, off = [], [], 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        stats = {}
        for name, j in cols:
            s = rg.column(j).statistics
            if s is not None and s.has_min_max:
                stats[name] = [s.min, s.max]
        if stats_may_match(stats, predicates):
            keep.append(i)
            offsets.append(off)
        off += rg.num_rows
    return keep, offsets


# ---------------------------------------------------------------------------
# Hive directory branches
# ---------------------------------------------------------------------------

#: Spark/Hive's directory name for a NULL partition value — the same
#: sentinel contract the reference's record reader appends partition
#: values with (ArgodbMapreduceRecordReader.java:172-198).
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def decode_branch(rel: str) -> dict:
    """{col -> raw_or_None} from one Hive directory branch ('.' or
    'a=1/b=x'): percent-decode, NULL sentinel -> None."""
    pairs = {}
    if rel != ".":
        for comp in rel.split(os.sep):
            if "=" in comp:
                c, v = comp.split("=", 1)
                v = unquote(v)
                pairs[c] = None if v == HIVE_NULL else v
    return pairs


def decode_part_value(raw, type_str):
    """Directory-name string -> typed Python value per the manifest
    schema ledger. None stays None (NULL sentinel). Unknown types stay
    strings — Spark's own partition discovery has the same string
    fallback."""
    if raw is None:
        return None
    t = (type_str or "string").lower()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return int(raw)
    if t == "date":
        return _dt.date.fromisoformat(raw)
    if t in ("double", "float"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    return raw


def walk_partition_files(seg_dir: str, part_cols) -> list:
    """[(file_path, ((col, raw_or_None), ...)), ...] for one
    Hive-partitioned segment, sorted: each parquet file with the
    partition values of its directory branch."""
    out = []
    for root, _dirs, fs in sorted(os.walk(seg_dir)):
        pairs = decode_branch(os.path.relpath(root, seg_dir))
        parts = tuple((c, pairs.get(c)) for c in part_cols)
        for f in sorted(fs):
            if f.endswith(".parquet"):
                out.append((os.path.join(root, f), parts))
    return sorted(out)


def segment_of(path: str, entry: dict, fp: str):
    """The segment of ``entry`` that holds a local file path, found by
    directory ancestry: the table path may be relative, file paths are
    absolute, and a clone's segments are absolute paths outside the
    table. None for a file no segment holds."""
    root = os.path.abspath(path)
    for seg in entry["segments"]:
        if fp.startswith(os.path.join(root, seg) + os.sep):
            return seg
    return None


def parts_of_file(path: str, entry: dict, fp: str) -> tuple:
    """((col, raw_or_None, ledger type), ...) for a local file path of
    ``entry``: the branch between its segment's root and the file,
    decoded. Flat or unowned files give ()."""
    seg = segment_of(path, entry, fp)
    if seg is None:
        return ()
    seg_root = os.path.join(os.path.abspath(path), seg)
    cols = entry.get("partition_by", {}).get(seg) or ()
    types = entry.get("schemas", {}).get(seg, {})
    pairs = decode_branch(os.path.relpath(os.path.dirname(fp), seg_root))
    return tuple((c, pairs.get(c), types.get(c, "string")) for c in cols)


# ---------------------------------------------------------------------------
# Paths, deletion vectors and sidecars
# ---------------------------------------------------------------------------


def local_path(fp: str) -> str:
    """``_metadata.file_path`` -> plain filesystem path: strip the
    scheme AND percent-decode (a partition value with a space is %20
    in the metadata column but not on disk)."""
    if ":" in fp:
        fp = "/" + fp.split(":", 1)[-1].lstrip("/")
    return unquote(fp)


def dv_rows(path: str, dv_name: str) -> dict:
    """{``_metadata.file_path`` as the sidecar recorded it (scheme-prefixed,
    percent-encoded) -> sorted tuple of deleted row positions} for one
    deletion-vector sidecar, read with pyarrow (DVs are O(deleted
    rows)); {} for no DV."""
    import pyarrow.parquet as pq

    per_file: dict = {}
    if not dv_name:
        return per_file
    for f in sorted(glob.glob(os.path.join(path, dv_name, "*.parquet"))):
        t = pq.read_table(f, columns=["file_path", "row_index"])
        for fp, ri in zip(
            t.column("file_path").to_pylist(), t.column("row_index").to_pylist()
        ):
            per_file.setdefault(fp, set()).add(ri)
    return {fp: tuple(sorted(s)) for fp, s in per_file.items()}


def dv_positions(path: str, dv_name: str) -> dict:
    """:func:`dv_rows` keyed by local file path."""
    per_file: dict = {}
    for fp, pos in dv_rows(path, dv_name).items():
        per_file.setdefault(local_path(fp), set()).update(pos)
    return {fp: tuple(sorted(s)) for fp, s in per_file.items()}


def segment_files(path: str, entry: dict, seg: str) -> list:
    """[(absolute file path, ((col, raw_or_None, ledger type), ...)),
    ...] for one segment of ``entry``, sorted: a flat segment's parquet
    files with (), a Hive-partitioned segment's files with the decoded
    values of their directory branch."""
    seg_dir = os.path.join(os.path.abspath(path), seg)
    cols = entry.get("partition_by", {}).get(seg) or ()
    if not cols:
        return [
            (os.path.join(seg_dir, f), ())
            for f in sorted(os.listdir(seg_dir))
            if f.endswith(".parquet")
        ]
    types = entry.get("schemas", {}).get(seg, {})
    return [
        (fp, tuple((c, raw, types.get(c, "string")) for c, raw in parts))
        for fp, parts in walk_partition_files(seg_dir, cols)
    ]


# ---------------------------------------------------------------------------
# Versions and change legs
# ---------------------------------------------------------------------------


def entry_at(entries, version=None, unknown="unknown version {version}; have {have}"):
    """The manifest entry of ``version``; None or a negative version is
    the head. Any other version the manifest does not hold raises
    ``ValueError`` with ``unknown`` formatted with the version and the
    retained ones."""
    if version is None or version < 0:
        return entries[-1]
    for e in entries:
        if e["version"] == version:
            return e
    have = sorted(e["version"] for e in entries)
    raise ValueError(unknown.format(version=version, have=have))


#: The ``_change_type`` each leg kind surfaces as (``cdc`` legs carry
#: their own per row).
CHANGE_TYPE = {
    "insert": "insert", "add": "insert", "revive": "insert",
    "drop": "delete", "delete": "delete",
}


def change_legs(path: str, entries, lo: int, hi: int):
    """The change feed of versions ``(lo, hi]`` as ``(legs,
    transitions)``, planned from the manifest and the deletion-vector
    sidecars alone (each read once, with pyarrow); no data file is
    opened.

    ``transitions`` holds ``(version, class, removed segments)`` per
    version, the class one of ``maintenance`` (``data_change: false``:
    compaction, bin-pack, z-order; no legs, Delta's OPTIMIZE-under-CDF
    skip — re-emitting a compacted segment would duplicate every row it
    absorbed), ``cdc`` (UPDATE/MERGE on a CDF table: the commit adds no
    tombstones, so its sidecar is the whole delta and the rewritten
    segments are not read), ``retention`` (a DELETE that dropped whole
    segments), ``rewrite`` (any other removal: overwrite, restore,
    UPDATE/MERGE without a sidecar), ``dv`` (the deletion vector
    changed, nothing removed) or ``append``.

    ``legs`` holds ``(version, kind, file, positions, parts)`` with
    ``parts`` the file's ((col, raw, type), ...) partition values:

    * ``cdc``: one sidecar file; its rows carry their own change type;
    * ``insert``/``add``: a file of an added segment; ``add`` masks out
      ``positions``, the tombstones the new version's DV already holds
      for it (a restore re-adding a segment);
    * ``drop``: a file of a removed segment; its live rows, the
      previous version's tombstones masked out, are deletes;
    * ``delete``/``revive``: the rows at ``positions`` newly tombstoned
      or un-tombstoned (a restore past a DELETE) in a segment on both
      sides; added and removed files are accounted whole above.

    This is Delta RESTORE's file-granularity contract for every
    transition without a sidecar: a row in both a removed and an added
    file emits a delete and an insert (net zero under replay)."""
    abs_path = os.path.abspath(path)
    dvs: dict = {}

    def positions(dv_name):
        if dv_name not in dvs:
            dvs[dv_name] = dv_positions(path, dv_name)
        return dvs[dv_name]

    legs, transitions = [], []
    for prev, cur in zip([None, *entries], entries):
        v = cur["version"]
        if not lo < v <= hi:
            continue
        before = set(prev["segments"]) if prev else set()
        after = set(cur["segments"])
        removed, added = sorted(before - after), sorted(after - before)
        dv0, dv1 = (prev or {}).get("dv"), cur.get("dv")
        if cur.get("data_change") is False:
            cls = "maintenance"
        elif removed and cur.get("cdc"):
            cls = "cdc"
        elif removed:
            cls = "retention" if "deleted_where" in cur else "rewrite"
        else:
            cls = "dv" if dv1 != dv0 else "append"
        transitions.append((v, cls, removed))
        if cls == "maintenance":
            continue
        if cls == "cdc":
            cdc_dir = os.path.join(abs_path, cur["cdc"])
            legs += [
                (v, "cdc", os.path.join(cdc_dir, f), (), ())
                for f in sorted(os.listdir(cdc_dir))
                if f.endswith(".parquet")
            ]
            continue
        old, new = positions(dv0), positions(dv1)
        for seg in removed:
            legs += [
                (v, "drop", fp, old.get(fp, ()), parts)
                for fp, parts in segment_files(path, prev, seg)
            ]
        for seg in added:
            for fp, parts in segment_files(path, cur, seg):
                pos = new.get(fp, ())
                legs.append((v, "add" if pos else "insert", fp, pos, parts))
        if dv1 == dv0:
            continue
        roots = tuple(os.path.join(abs_path, s) + os.sep for s in before & after)
        for kind, a, b, entry in (("delete", new, old, cur), ("revive", old, new, prev)):
            for fp in sorted(a):
                delta = tuple(sorted(set(a[fp]) - set(b.get(fp, ()))))
                if delta and fp.startswith(roots):
                    legs.append((v, kind, fp, delta, parts_of_file(path, entry, fp)))
    return legs, transitions


def _read_json(path: str, name: str):
    p = os.path.join(path, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def read_properties(path: str) -> dict:
    """The table-properties sidecar (column mapping, generated and
    identity columns, CDF switch); {} when absent."""
    return _read_json(path, PROPERTIES) or {}


def column_mapping(path: str):
    """(logical -> physical map, retired physical names) from the
    properties sidecar; both empty when no mapping is active."""
    props = read_properties(path)
    return (
        props.get("column_mapping", {}) or {},
        props.get("column_mapping_retired", []) or [],
    )


def read_keys_sidecar(path: str):
    """The table's key sidecar, or None for legacy direct-wrap tables
    (whose file DEKs are wrapped by the master itself — readable
    forever, but not rotatable without a rewrite)."""
    return _read_json(path, KEYS_SIDECAR)


# ---------------------------------------------------------------------------
# Key kit: fingerprint, HMAC envelope, KEK resolution, parquet encryption
# ---------------------------------------------------------------------------


def key_fingerprint(master_b64: str) -> str:
    """Stable fingerprint of a master key for the manifest's
    ``key_fp``: HMAC-SHA256(master, constant) prefix — reveals nothing
    about the key, but lets writers and readers reject a different
    master at plan time."""
    return hmac.new(
        base64.b64decode(master_b64), b"argodb-key-fingerprint", hashlib.sha256
    ).hexdigest()[:16]


def _master(master_b64: str) -> bytes:
    master = base64.b64decode(master_b64)
    if len(master) < 16:
        raise ValueError("encryptionKey must be base64 of at least 16 bytes")
    return master


def _mask(master: bytes, key_id: str, nonce: bytes) -> bytes:
    return hmac.new(
        master, b"wrap|" + key_id.encode() + b"|" + nonce, hashlib.sha256
    ).digest()


def _tag(master: bytes, nonce: bytes, ct: bytes) -> bytes:
    return hmac.new(master, b"tag|" + nonce + ct, hashlib.sha256).digest()[:16]


def _wrap(master: bytes, key_id: str, payload: bytes) -> str:
    nonce = os.urandom(16)
    ct = bytes(a ^ b for a, b in zip(payload, _mask(master, key_id, nonce)))
    return base64.b64encode(nonce + ct + _tag(master, nonce, ct)).decode()


def _unwrap(master: bytes, key_id: str, blob: str, what: str) -> bytes:
    raw = base64.b64decode(blob)
    nonce, ct, tag = raw[:16], raw[16:-16], raw[-16:]
    if not hmac.compare_digest(tag, _tag(master, nonce, ct)):
        raise ValueError(
            "encryption key mismatch: the supplied encryptionKey cannot "
            f"unwrap {what}"
        )
    return bytes(a ^ b for a, b in zip(ct, _mask(master, key_id, nonce)))


def hmac_wrap(master_b64: str, key_id: str, payload: bytes) -> str:
    """The envelope every key in the store is wrapped with:
    ``mask = HMAC-SHA256(master, 'wrap|'+key_id+'|'+nonce)``, ``ct =
    payload ^ mask``, 16-byte tag ``HMAC(master, 'tag|'+nonce+ct)``;
    base64 of nonce + ct + tag. File data keys use it through the
    parquet KMS; the table KEK (key_id 'kek') in ``_keys.json``."""
    return _wrap(base64.b64decode(master_b64), key_id, payload)


def hmac_unwrap(master_b64: str, key_id: str, blob: str) -> bytes:
    """Inverse of :func:`hmac_wrap`; a wrong master fails the HMAC tag
    loudly instead of yielding a garbage key."""
    return _unwrap(
        base64.b64decode(master_b64), key_id, blob,
        "this table's key-encryption key",
    )


def _kek_record(sidecar: dict, master_b64: str, verb: str) -> dict:
    rec = (sidecar.get("keks") or {}).get(key_fingerprint(master_b64))
    if rec is None:
        raise ValueError(
            "encryptionKey does not match any master key this table's "
            "key sidecar knows (key-fingerprint lookup failed)"
        )
    if rec.get("retired"):
        raise ValueError(
            "this master key was ROTATED OUT of the table "
            f"(rotation #{sidecar.get('rotations', '?')}); {verb} "
            "require the current master key"
        )
    return rec


def resolve_wrap_key(path: str, master_b64: str) -> str:
    """The caller's MASTER key -> the table's effective WRAP key. With
    a ``_keys.json`` sidecar, file data keys are wrapped under a
    per-table KEK that the master unwraps, so a rotation re-wraps one
    32-byte secret and every historical file reads under the new
    master; an unknown or rotated-out master fails here at plan time.
    Legacy tables (no sidecar) keep the master as the wrap key."""
    sidecar = read_keys_sidecar(path)
    if sidecar is None:
        return master_b64
    rec = _kek_record(sidecar, master_b64, "reads and writes")
    return base64.b64encode(hmac_unwrap(master_b64, "kek", rec["wrapped"])).decode()


def check_key_fp(entry, master_b64: str, path=None) -> None:
    """Plan-time wrong-key rejection for reads: a mismatched key fails
    here with a clear error instead of N tasks later at unwrap. With a
    key sidecar, the sidecar is the authority: the master must be known
    and un-retired and share the KEK lineage (``kek_id``) of the
    version being read, so pre-rotation versions read under the
    post-rotation master. Without one, the entry's ``key_fp`` must
    match; entries written before fingerprints skip the check (unwrap
    still fails loud for them)."""
    efp = entry.get("key_fp") if entry else None
    sidecar = read_keys_sidecar(path) if path is not None else None
    if sidecar:
        rec = _kek_record(sidecar, master_b64, "reads")
        erec = (sidecar.get("keks") or {}).get(efp) if efp else None
        if erec and erec.get("kek_id") != rec.get("kek_id"):
            raise ValueError(
                "encryptionKey belongs to a different key lineage than "
                "the one this version was encrypted under"
            )
        return
    if efp and key_fingerprint(master_b64) != efp:
        raise ValueError(
            "encryptionKey does not match the master key this version is "
            "encrypted under (manifest key-fingerprint mismatch)"
        )


def crypto_factory(wrap_b64: str):
    """(CryptoFactory, KmsConnectionConfig) for parquet MODULAR
    ENCRYPTION under one wrap key. parquet-cpp does the cryptography
    (AES-GCM data and metadata modules, a fresh data key per file);
    this local KMS only wraps those data keys with :func:`hmac_wrap`'s
    envelope, so a WRONG key fails loud at unwrap instead of feeding
    garbage to AES-GCM. Raises on a malformed key."""
    import pyarrow.parquet.encryption as pe

    master = _master(wrap_b64)

    class _HmacWrapKms(pe.KmsClient):
        def __init__(self, config):
            super().__init__()

        def wrap_key(self, key_bytes, master_key_identifier):
            return _wrap(master, master_key_identifier, key_bytes)

        def unwrap_key(self, wrapped_key, master_key_identifier):
            return _unwrap(
                master, master_key_identifier, wrapped_key,
                "this file's data key",
            )

    return (
        pe.CryptoFactory(lambda config: _HmacWrapKms(config)),
        pe.KmsConnectionConfig(),
    )


def encryption_properties(wrap_b64: str, schema, enc_cols=None):
    """Per-FILE encryption properties (fresh data keys every call):
    every leaf column under the footer key, PLAINTEXT footer so schema
    and row counts stay keyless-readable while column chunk metadata
    (stats included) stays encrypted. With ``enc_cols`` (column-level
    encryption) only leaves under those top-level columns are
    encrypted; the rest stay plaintext, keyless-readable by
    projection."""
    import io

    import pyarrow.parquet as pq
    import pyarrow.parquet.encryption as pe

    # Leaf paths (a nested column encrypts per leaf, e.g.
    # emb.list.element) derived from an empty in-memory footer.
    buf = io.BytesIO()
    with pq.ParquetWriter(buf, schema):
        pass
    pqs = pq.ParquetFile(io.BytesIO(buf.getvalue())).schema
    leaves = [pqs.column(i).path for i in range(len(pqs))]
    if enc_cols is not None:
        want = set(enc_cols)
        leaves = [p for p in leaves if p.split(".")[0] in want]
        if not leaves:
            raise ValueError(
                "encryptColumns matches no leaf column in the write schema"
            )
    cf, cfg = crypto_factory(wrap_b64)
    return cf.file_encryption_properties(
        cfg,
        pe.EncryptionConfiguration(
            footer_key="k0", plaintext_footer=True, column_keys={"k0": leaves}
        ),
    )


def decryption_properties(wrap_b64: str):
    """(decryption properties, factory). Keep the factory referenced
    while reads run: data keys unwrap lazily through its callback."""
    cf, cfg = crypto_factory(wrap_b64)
    return cf.file_decryption_properties(cfg), cf
