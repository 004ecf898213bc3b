"""Snapshot-committed table: parquet data + JSON manifests.

The sandbox has no iceberg-spark-runtime jar, so per SURVEY.md §7.4 we
implement the same commit/resume contract on plain parquet with our own
snapshot/manifest JSON (the thin API below is what an Iceberg catalog
would replace). This is our analog of the reference's footer metadata
(FileMetaData + row groups, /root/reference/src/Parquet/Reader.hs:197-213):
a small trailer that tells readers exactly which byte containers make
up the table.

Manifest IO goes through a pluggable filesystem (tokencodec/spark/
fsio.py): plain paths and file:// use the local OS, s3:// and friends
use native conditional PUTs when boto3 is present, any other scheme
(hdfs://, ...) is served by Spark's Hadoop filesystem — the table root
is scheme-transparent end to end (Spark jobs read/write the same URIs
natively).

Layout:
    {root}/data/run-{run_id}/...parquet     (written by Spark tasks)
    {root}/_manifest/snapshot-{N}.json      (immutable; THE commit)
    {root}/_manifest/CURRENT                (advisory roll-forward hint)
    {root}/_manifest/groupsets/groupset-*.json  (immutable spilled group
        maps — the Iceberg manifest-list analog; see the groupsets
        section below the DELETE_GROUP_PREFIX constant)

Commit protocol (Iceberg HadoopTableOperations-style, versioned-file
commits): snapshot ids are strictly sequential, and the atomic
create-exclusive of ``snapshot-{parent+1}.json`` IS the commit — there
is no second "pointer swap" step to crash before or to race on.
``CURRENT`` is only a read-optimization hint, updated best-effort after
the claim; readers roll forward from it (``snapshot-{hint+1}`` exists ⇒
it is newer and committed) and fall back to scanning the manifest dir
when the hint is missing or stale.  Consequences:

- Two concurrent committers both target id N; exactly one wins the
  create-exclusive, the loser re-reads (now sees N) and rebases onto it
  — no interleaving can drop a commit.  The previous protocol (claim
  any free id, then swap CURRENT) had a lost-update window: a loser
  rebasing before the winner's swap built its snapshot on the stale
  parent, and whichever swap landed last silently orphaned the other's
  commit.
- A committer that crashes after the claim has still committed; the
  stale hint is repaired by the next reader's roll-forward.  No "dead
  claim" garbage exists.
- Deleting/corrupting CURRENT is always recoverable: the fallback scan
  re-anchors on the highest well-formed manifest (ids are sequential,
  so that IS the current snapshot).
- The backing store needs ONE primitive: atomic create-if-absent with
  full content.  POSIX gives it via link(2), HDFS via rename-without-
  overwrite, S3 via conditional PUT (If-None-Match) — raw object
  stores no longer need a rename-based catalog for correctness.

A snapshot records {group_key: [data paths]} plus lineage/metrics.
Readers load ONLY paths listed in the current snapshot — files from
failed runs are invisible orphans (Iceberg semantics).
"""

from __future__ import annotations

import json
import os
import posixpath
import re
import time
import uuid

from tokencodec.spark.fsio import fs_for

# tag names become manifest-dir file names (ref-<name>.json): keep them
# to one path-safe segment so no backend can interpret them as paths
_TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

# group keys carrying row-level DELETE manifests (parquet files of
# deleted doc_ids) instead of page data — Iceberg v2 equality deletes.
# Readers of page data must skip them; every reader masks them inside
# its decode kernels (decode_job._Deletes); compact and purge_deletes
# rewrite them away physically.
DELETE_GROUP_PREFIX = "del:"


def is_delete_group(key: str) -> bool:
    return key.startswith(DELETE_GROUP_PREFIX)


# ---------------------------------------------------------------- groupsets
# Spilled group manifests (Iceberg's manifest list): a snapshot that
# inlines the whole {group: paths} map rewrites O(total groups) of JSON
# per commit — at the 10^12-sequence design scale (~10^5-10^6 data
# files) that is tens of MB of metadata per commit and per read. Once
# the inline map outgrows TOKENCODEC_MANIFEST_SPILL_GROUPS (default 64)
# the commit spills it to an immutable groupset-*.json file under
# {root}/_manifest/groupsets/ and the snapshot references it as
# {"name", "n_groups", "min", "max"} — the key range drives pruning so
# commit-time duplicate/replace validation reads only the sets whose
# range can contain the touched keys. Append commits reference the
# parent's set files verbatim (O(delta) metadata per commit);
# replace commits rewrite only set files whose keys actually changed;
# when the set LIST outgrows TOKENCODEC_MANIFEST_MERGE_SETS (default
# 32) the commit consolidates everything into key-ordered,
# range-disjoint set files (Iceberg's manifest merge), so snapshot
# size stays O(total/chunk + spill) forever. Set files are immutable
# and shared across snapshots, tags, and branches of one root; expiry
# deletes sets referenced only by expired snapshots, orphan GC ages
# out sets leaked by lost commit races.

# immutable once written -> safe process-wide cache (bounded FIFO)
_GROUPSET_CACHE: dict[str, dict] = {}
_GROUPSET_CACHE_MAX = 256


def spill_threshold() -> int:
    return int(os.environ.get("TOKENCODEC_MANIFEST_SPILL_GROUPS", "64"))


def merge_sets_threshold() -> int:
    return int(os.environ.get("TOKENCODEC_MANIFEST_MERGE_SETS", "32"))


# ------------------------------------------------------- chain metrics
# Every commit carries cumulative whole-table metrics derived from its
# parent (SnapshotTable.commit): table_totals (so maintenance never
# scans to size the table), max_doc_parts_chain (decode plans the
# split-document stitch from one manifest) and extra_schema_chain (the
# merged extra-column schema). They survive snapshot expiry because
# every descendant carries them forward, and readers take them from the
# one snapshot they hold: the format stamp guarantees every snapshot
# has them.

_TOTAL_KEYS = ("n_chunks", "n_rows", "n_tokens", "enc_bytes")


def next_table_totals(parent: dict | None, delta: dict) -> dict:
    """The parent's ``table_totals`` plus this commit's ``delta`` counts
    (``n_rows`` counts documents: a split document once)."""
    base = (parent["metrics"]["table_totals"] if parent is not None
            else dict.fromkeys(_TOTAL_KEYS, 0))
    return {k: int(base[k]) + int(delta.get(k, 0)) for k in _TOTAL_KEYS}


def merge_extra_schema(base: dict, add: dict) -> dict:
    """Merge two extra-column schemas: identical types agree, int
    widens to bigint and float to double (Iceberg's legal promotions),
    anything else is an incompatible redefinition and fails loudly."""
    out = dict(base)
    for k, t in add.items():
        prev = out.get(k)
        if prev is None or prev == t:
            out[k] = t
        elif {prev, t} == {"int", "bigint"}:
            out[k] = "bigint"
        elif {prev, t} == {"float", "double"}:
            out[k] = "double"
        else:
            raise ValueError(
                f"incompatible schema evolution for column '{k}': "
                f"{prev} -> {t} (only int -> bigint and float -> double "
                "widening are allowed)")
    return out


def next_extra_schema_chain(parent: dict | None, this_schema: dict) -> dict:
    """The parent's ``extra_schema_chain`` merged with this commit's
    schema."""
    return merge_extra_schema(
        parent["metrics"]["extra_schema_chain"] if parent is not None
        else {}, this_schema)


def next_chain_max(parent: dict | None, this_max: int) -> int:
    """The max doc_parts over the whole ancestry: the parent's
    ``max_doc_parts_chain`` and ``this_max``."""
    return max(int(parent["metrics"]["max_doc_parts_chain"])
               if parent is not None else 0, int(this_max))


def _chain_metrics(parent: dict | None, m: dict) -> dict:
    """The chain metrics a commit of ``m`` on ``parent`` carries, except
    those ``m`` sets itself (a whole-table rewrite re-anchors them from
    measured values)."""
    out = {"table_totals": next_table_totals(parent, m),
           "max_doc_parts_chain": next_chain_max(
               parent, m.get("max_doc_parts", 0)),
           "extra_schema_chain": next_extra_schema_chain(
               parent, m.get("extra_schema", {}))}
    return {k: v for k, v in out.items() if k not in m}


# ------------------------------------------------------------ table format
# Every snapshot commit and create_branch writes carries a top-level
# "format" stamp (Delta Lake's protocol version): the shape of the pages
# files, chain metrics and delete attribution it implies is the only one
# the readers understand. current_snapshot() and snapshot(), through
# which every reader, writer and maintenance entry point resolves its
# snapshot, refuse any other value instead of guessing at an older
# shape; there is no migration path, a table of an older format is
# re-encoded. Next to it, "kind" names what the table holds: "tokens"
# (encode_job's pages) or "vectors" (vectors.encode_vectors' pages).
# publish_staged and fsck dispatch on it, and commit refuses a commit of
# another kind than its parent's, so one root never mixes the two.
# Format 2 is format 1 plus the kind stamp: a format-1 chain cannot say
# what it holds, so it is refused like any other format.
FORMAT = 2


class TableFormatError(ValueError):
    """A well-formed snapshot of a format this engine does not read."""


def _is_manifest(s) -> bool:
    return isinstance(s, dict) and "snapshot_id" in s and "groups" in s


class SnapshotTable:
    def __init__(self, root: str, fs=None, allow_unsafe: bool | None = None,
                 branch: str | None = None):
        """``branch`` opens the table AT a named branch (create_branch):
        same root, same data directory, but the snapshot chain lives in
        ``_manifest/branch-<name>/`` — commits/reads against the handle
        are commits/reads of that branch only. The branch must already
        exist (its fork snapshot is its existence token)."""
        self.root = root
        self.fs = fs if fs is not None else fs_for(root, allow_unsafe=allow_unsafe)
        self.branch = branch
        base = posixpath.join(root, "_manifest")
        if branch is None:
            self.manifest_dir = base
            self.fs.mkdirs(self.manifest_dir)
        else:
            if not _TAG_NAME_RE.match(branch):
                raise ValueError(f"invalid branch name {branch!r}")
            self.manifest_dir = posixpath.join(base, f"branch-{branch}")
            if not self.fs.exists(self._snap_path_in(self.manifest_dir, 0)):
                raise FileNotFoundError(
                    f"no branch {branch!r} under {root} (create_branch first)")

    @staticmethod
    def _snap_path_in(manifest_dir: str, snapshot_id: int) -> str:
        return posixpath.join(manifest_dir, f"snapshot-{snapshot_id:06d}.json")

    # -------------------------------------------------------------- reads
    def _snap_path(self, snapshot_id: int) -> str:
        return posixpath.join(self.manifest_dir,
                              f"snapshot-{snapshot_id:06d}.json")

    def _read_snap(self, snapshot_id: int) -> dict | None:
        """The manifest for ``snapshot_id`` if present and well-formed,
        else None. Claims are content-atomic (fsio.create_excl), so a
        torn file here means external corruption, not a crash window."""
        path = self._snap_path(snapshot_id)
        if not self.fs.exists(path):
            return None
        try:
            s = json.loads(self.fs.read_text(path))
        except ValueError:
            return None
        return s if _is_manifest(s) else None

    def _checked(self, snap: dict | None) -> dict | None:
        """``snap`` if it carries this engine's table format; raises
        TableFormatError for any other well-formed manifest."""
        if _is_manifest(snap) and snap.get("format") != FORMAT:
            raise TableFormatError(
                f"snapshot {snap['snapshot_id']} under {self.manifest_dir} "
                f"has table format {snap.get('format')!r}, but this engine "
                f"reads format {FORMAT} only: re-encode the table with "
                "this engine version")
        return snap

    def current_snapshot(self) -> dict | None:
        """The newest committed snapshot: start from the CURRENT hint
        (or, when the hint is missing/unreadable, the highest
        well-formed manifest) and roll forward while ``snapshot-{n+1}``
        exists AND declares parent_id == n — each commit is the
        create-exclusive of exactly parent+1 built on that parent, so a
        successor violating the link is not a commit of this protocol.
        The parent check is what makes upgrades safe: the OLD
        claim-then-swap protocol could leave a dead claim at current+1
        whose parent_id points at a STALE ancestor (a lost-race rebase
        that crashed before its swap); adopting it would shadow the
        committed snapshot and expose its solely-referenced data to
        GC. Raises TableFormatError (a ValueError) when that snapshot
        is not of this engine's table format."""
        snap = None
        cur = posixpath.join(self.manifest_dir, "CURRENT")
        if self.fs.exists(cur):
            name = self.fs.read_text(cur).strip()
            path = posixpath.join(self.manifest_dir, name)
            try:
                s = json.loads(self.fs.read_text(path))
                if _is_manifest(s):
                    snap = s
            except (OSError, ValueError):
                snap = None  # stale hint (e.g. expired away): fall back
        if snap is None:
            all_snaps = self.snapshots()
            if not all_snaps:
                return None
            snap = all_snaps[-1]
        while True:
            nxt = self._read_snap(snap["snapshot_id"] + 1)
            if nxt is None or nxt.get("parent_id") != snap["snapshot_id"]:
                return self._checked(snap)
            snap = nxt

    def snapshot(self, snapshot_id: int) -> dict:
        """Load a specific (immutable) snapshot — time travel. Refuses
        one of another table format, like current_snapshot()."""
        path = self._snap_path(snapshot_id)
        if not self.fs.exists(path):
            raise FileNotFoundError(f"no snapshot {snapshot_id} under {self.root}")
        return self._checked(json.loads(self.fs.read_text(path)))

    # ---------------------------------------------------------- groupsets
    def groupsets_dir(self) -> str:
        # shared across the main chain, tags, and every branch of this
        # root (branch snapshots reference the same immutable files)
        return posixpath.join(self.root, "_manifest", "groupsets")

    def _read_groupset(self, name: str) -> dict[str, list[str]]:
        path = posixpath.join(self.groupsets_dir(), name)
        cached = _GROUPSET_CACHE.get(path)
        if cached is not None:
            return cached
        try:
            m = json.loads(self.fs.read_text(path))
        except (OSError, ValueError) as e:
            raise FileNotFoundError(
                f"groupset manifest {path} referenced by a committed "
                "snapshot is missing or unreadable — metadata corruption "
                "(was the groupsets dir cleaned by an external tool?)"
            ) from e
        if not isinstance(m, dict):
            raise FileNotFoundError(f"malformed groupset manifest {path}")
        if len(_GROUPSET_CACHE) >= _GROUPSET_CACHE_MAX:
            _GROUPSET_CACHE.pop(next(iter(_GROUPSET_CACHE)))
        _GROUPSET_CACHE[path] = m
        return m

    def _write_groupset(self, groups: dict[str, list[str]]) -> dict:
        """Write an immutable set file; return its manifest-list entry.
        Files leaked by a lost commit race or a crash before the claim
        are unreferenced and age out via remove_orphan_files."""
        name = f"groupset-{uuid.uuid4().hex[:12]}.json"
        self.fs.mkdirs(self.groupsets_dir())
        self.fs.write_atomic(posixpath.join(self.groupsets_dir(), name),
                             json.dumps(groups, indent=1))
        ks = sorted(groups)
        return {"name": name, "n_groups": len(groups),
                "min": ks[0], "max": ks[-1]}

    def resolve_groups(self, snap: dict) -> dict[str, list[str]]:
        """The snapshot's full {group: paths} map, resolving spilled
        set references. Keys are disjoint across sets and the inline
        map by construction (commit validates against the resolved
        key space)."""
        groups: dict[str, list[str]] = {}
        for e in snap.get("group_manifests", []):
            groups.update(self._read_groupset(e["name"]))
        groups.update(snap["groups"])
        return groups

    def committed_groups(self, snapshot_id: int | None = None) -> dict[str, list[str]]:
        snap = (self.current_snapshot() if snapshot_id is None
                else self.snapshot(snapshot_id))
        return self.resolve_groups(snap) if snap else {}

    # ----------------------------------------------------- sequence numbers
    # Iceberg's data sequence numbers, at group granularity: the seq of
    # a group is the snapshot_id of the commit that FIRST introduced it.
    # Equality deletes (del:* manifests) apply only to rows whose group
    # seq is strictly below the delete's own seq — which is what lets an
    # atomic upsert (maintenance.upsert_docs: new data + delete manifest
    # in ONE commit, equal seqs) re-add a doc_id without the delete
    # masking the replacement, and lets a doc deleted then re-encoded
    # later become visible again. Attribution sources, in precedence
    # order: the retained chain's new_groups lists (rewrite commits —
    # op compact/purge/rewrite_manifests — re-list keys they rewrote
    # and are skipped; first-wins guards legacy rewrite snapshots), then
    # the group-seqs.json side file expire_snapshots maintains so
    # attribution survives chain truncation. A data group absent from
    # both is "ancient": older than every pending delete, so readers
    # treat it as a deep negative (decode_job._ANCIENT_SEQ — masked by
    # every delete, including deletes remapped below zero by a branch
    # fork). A pending delete group is always attributed; one that is
    # not is a fault decode_job._pending_deletes reports.

    _REWRITE_OPS = frozenset({"compact", "purge", "rewrite_manifests",
                              "resalt"})

    def _group_seqs_path(self) -> str:
        return posixpath.join(self.manifest_dir, "group-seqs.json")

    def read_group_seqs(self) -> dict[str, int]:
        """The persisted attribution side file ({group: seq}); {} when
        none was ever written (tables that never expired attribution)."""
        try:
            d = json.loads(self.fs.read_text(self._group_seqs_path()))
        except (FileNotFoundError, ValueError):
            return {}
        return {str(k): int(v) for k, v in d.items()} \
            if isinstance(d, dict) else {}

    def write_group_seqs(self, seqs: dict[str, int]) -> None:
        self.fs.write_atomic(self._group_seqs_path(),
                             json.dumps(dict(sorted(seqs.items())), indent=1))

    def group_seqs(self, snap: dict | None = None) -> dict[str, int]:
        """{group_key: first-commit snapshot_id} for the groups of
        ``snap`` (default: current). Groups whose introduction predates
        both the retained chain and the side file are ABSENT."""
        if snap is None:
            snap = self.current_snapshot()
        if snap is None:
            return {}
        groups = set(self.resolve_groups(snap))
        out = {k: v for k, v in self.read_group_seqs().items() if k in groups}
        for s in self.chain(snap["snapshot_id"]):  # oldest-first
            m = s.get("metrics", {})
            # attribution a branch fork carried in (create_branch):
            # pre-fork seqs remapped below zero, atomic with the fork
            for k, v in m.get("group_seqs", {}).items():
                if k in groups and k not in out:
                    out[k] = int(v)
            if m.get("op") in self._REWRITE_OPS:
                continue
            for k in s.get("new_groups", []):
                if k in groups and k not in out:
                    out[k] = s["snapshot_id"]
        return out

    def data_paths(self, snapshot_id: int | None = None) -> list[str]:
        """Paths of DATA groups — delete-manifest groups (del:*) hold
        deleted-id parquet, not table rows, and are never data."""
        paths: list[str] = []
        for k, ps in self.committed_groups(snapshot_id).items():
            if not is_delete_group(k):
                paths.extend(ps)
        return paths

    def snapshots(self) -> list[dict]:
        """Every well-formed snapshot manifest, ordered numerically by
        id (lexicographic listdir order breaks once ids outgrow the
        6-digit name padding). Under the sequential-claim protocol every
        one of these is committed; use :meth:`chain` for the unexpired
        ancestry of the current snapshot. Torn/partial files are skipped
        rather than poisoning every metadata walk, and the table format
        is not checked, so orphan GC can classify any manifest."""
        out = []
        for name in self.fs.listdir(self.manifest_dir):
            if name.startswith("snapshot-"):
                try:
                    s = json.loads(self.fs.read_text(
                        posixpath.join(self.manifest_dir, name)))
                except ValueError:
                    continue
                if _is_manifest(s):
                    out.append(s)
        out.sort(key=lambda s: s["snapshot_id"])
        return out

    def chain(self, snapshot_id: int | None = None) -> list[dict]:
        """The committed history: CURRENT (or ``snapshot_id``) followed
        back through parent_id links, returned oldest-first. A parent
        expired away simply ends the chain (the list then starts
        mid-history; its first element has a non-None parent_id)."""
        snap = (self.current_snapshot() if snapshot_id is None
                else self.snapshot(snapshot_id))
        out: list[dict] = []
        while snap is not None:
            out.append(snap)
            pid = snap.get("parent_id")
            if pid is None:
                break
            path = self._snap_path(pid)
            if not self.fs.exists(path):
                break  # expired: truncated history
            snap = json.loads(self.fs.read_text(path))
        out.reverse()
        return out

    # --------------------------------------------------------------- tags
    # Named immutable refs to snapshot ids (Iceberg tags): retention
    # holds for releases, eval pins, takedown audits. A tag file is
    # created with the SAME atomic create-if-absent primitive as a
    # commit, so tags are race-safe on every backend (POSIX link,
    # S3/GCS conditional PUT) and immutable by construction — re-tagging
    # a name requires an explicit drop first. expire_snapshots and
    # remove_orphan_files both treat tagged snapshots (and their data
    # files) as live even after they leave the retained chain.

    def _ref_path(self, name: str) -> str:
        return posixpath.join(self.manifest_dir, f"ref-{name}.json")

    def create_tag(self, name: str, snapshot_id: int | None = None) -> dict:
        """Pin ``name`` to a snapshot (default: the current one)."""
        if not _TAG_NAME_RE.match(name):
            raise ValueError(
                f"invalid tag name {name!r}: need a single path-safe "
                "segment matching [A-Za-z0-9][A-Za-z0-9._-]{0,63}")
        snap = (self.current_snapshot() if snapshot_id is None
                else self.snapshot(snapshot_id))
        if snap is None:
            raise ValueError(f"cannot tag an empty table at {self.root}")
        ref = {"name": name, "snapshot_id": snap["snapshot_id"],
               "created_ms": int(time.time() * 1000)}
        try:
            self.fs.create_excl(self._ref_path(name),
                                json.dumps(ref, indent=1))
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already exists (tags are immutable; "
                "drop_tag first to re-point it)") from None
        return ref

    def drop_tag(self, name: str) -> None:
        path = self._ref_path(name)
        if not self.fs.exists(path):
            raise FileNotFoundError(f"no tag {name!r} under {self.root}")
        self.fs.delete(path)

    def tag(self, name: str) -> dict:
        path = self._ref_path(name)
        if not self.fs.exists(path):
            raise FileNotFoundError(f"no tag {name!r} under {self.root}")
        ref = json.loads(self.fs.read_text(path))
        if not (isinstance(ref, dict) and "snapshot_id" in ref):
            raise ValueError(f"malformed tag file {path}")
        return ref

    def tags(self) -> list[dict]:
        """Every well-formed tag, sorted by name. Torn/malformed ref
        files are skipped (same tolerance as snapshots())."""
        out = []
        for fname in self.fs.listdir(self.manifest_dir):
            if not (fname.startswith("ref-") and fname.endswith(".json")):
                continue
            try:
                ref = json.loads(self.fs.read_text(
                    posixpath.join(self.manifest_dir, fname)))
            except ValueError:
                continue
            if isinstance(ref, dict) and "name" in ref and "snapshot_id" in ref:
                out.append(ref)
        out.sort(key=lambda r: r["name"])
        return out

    # ----------------------------------------------------------- branches
    # Mutable named refs with their own snapshot chain (Iceberg
    # branches): the write-audit-publish workflow without a second
    # table root. A branch forks from a base snapshot — its snapshot 0
    # carries the base group map verbatim plus the cumulative chain
    # metrics (table_totals / extra_schema_chain / max_doc_parts_chain /
    # scheme), so encode/decode/fsck against the branch handle behave
    # exactly like the main table, including incremental totals. Data
    # files are SHARED: branch run dirs land in the same {root}/data,
    # and expiry/orphan-GC on the main table treat every branch chain
    # as live (a branch is a retention hold, like a tag). Publishing
    # (maintenance.publish_branch) fast-forwards main by adopting the
    # branch's appended groups in one metadata-only commit.

    def _branch_dir(self, name: str) -> str:
        return posixpath.join(posixpath.join(self.root, "_manifest"),
                              f"branch-{name}")

    def create_branch(self, name: str, snapshot_id: int | None = None) -> dict:
        """Fork ``name`` from a snapshot (default: the current one).
        Race-safe: the branch's fork manifest is create-exclusive, so
        two creators of the same name see exactly one winner."""
        if self.branch is not None:
            raise ValueError("cannot create a branch from a branch handle")
        if not _TAG_NAME_RE.match(name):
            raise ValueError(
                f"invalid branch name {name!r}: need a single path-safe "
                "segment matching [A-Za-z0-9][A-Za-z0-9._-]{0,63}")
        base = (self.current_snapshot() if snapshot_id is None
                else self.snapshot(snapshot_id))
        if base is None:
            raise ValueError(f"cannot branch an empty table at {self.root}")
        # carry the cumulative chain metrics (and the scheme every commit
        # inherits) into the fork so branch commits keep accumulating
        # totals / schema / doc-part bounds
        bm = base["metrics"]
        carried = {k: bm[k] for k in ("table_totals", "extra_schema_chain",
                                      "max_doc_parts_chain")}
        if "scheme" in bm:
            carried["scheme"] = bm["scheme"]
        fork = {
            "format": FORMAT,
            "kind": base["kind"],
            "snapshot_id": 0,
            "parent_id": None,
            "timestamp_ms": int(time.time() * 1000),
            # reference the base's spilled sets verbatim (they live in
            # the shared groupsets dir) instead of materializing the map
            "groups": dict(base["groups"]),
            "new_groups": [],
            "metrics": {"branch": name,
                        "forked_from": base["snapshot_id"], **carried},
        }
        if base.get("group_manifests"):
            fork["group_manifests"] = list(base["group_manifests"])
        bdir = self._branch_dir(name)
        self.fs.mkdirs(bdir)
        # carry sequence attribution INSIDE the fork manifest: the
        # branch chain starts at a lone snapshot with new_groups=[], so
        # without carried attribution a branch forked after an upsert
        # would resolve group_seqs() == {} and could not mask its
        # pending deletes. Embedding it in the fork
        # (rather than a side file) makes it atomic with the branch's
        # existence: no clobber from a duplicate create_branch, no
        # crash window leaving a fork without attribution. Carried
        # seqs are REMAPPED order-preserving into the sub-zero band
        # (main ids can exceed the branch's own, which restart at 1):
        # every pre-fork group sorts below every branch commit.
        # Attribution only matters while ACTIVE deletes exist (it
        # exempts post-delete data from masking), so it is pruned to
        # the delete groups plus data at/after the oldest known delete
        # — the same bound decode's masking map uses.
        base_groups = self.resolve_groups(base)
        active = [k for k, ps in base_groups.items()
                  if is_delete_group(k) and ps]
        if active:
            attr = self.group_seqs(base)
            min_seq = min(attr[k] for k in active)
            shift = base["snapshot_id"] + 2
            fork["metrics"]["group_seqs"] = {
                g: s - shift for g, s in sorted(attr.items())
                if is_delete_group(g) or s >= min_seq}
        try:
            self.fs.create_excl(self._snap_path_in(bdir, 0),
                                json.dumps(fork, indent=1))
        except FileExistsError:
            raise ValueError(
                f"branch {name!r} already exists (drop_branch first "
                "to re-fork it)") from None
        self.fs.write_atomic(posixpath.join(bdir, "CURRENT"),
                             "snapshot-000000.json")
        return fork

    def drop_branch(self, name: str) -> None:
        """Delete the branch's manifest chain. Shared data files stay —
        any the branch alone referenced become unreferenced and fall to
        the age-guarded remove_orphan_files."""
        if self.branch is not None:
            raise ValueError("cannot drop a branch from a branch handle")
        bdir = self._branch_dir(name)
        if not self.fs.exists(self._snap_path_in(bdir, 0)):
            raise FileNotFoundError(f"no branch {name!r} under {self.root}")
        self.fs.delete(bdir, recursive=True)

    def branches(self) -> list[dict]:
        """Each live branch's fork metadata plus its current head id,
        sorted by name. Malformed branch dirs are skipped."""
        if self.branch is not None:
            return []
        base = posixpath.join(self.root, "_manifest")
        out = []
        for fname in self.fs.listdir(base):
            if not fname.startswith("branch-"):
                continue
            name = fname[len("branch-"):]
            try:
                b = SnapshotTable(self.root, fs=self.fs, branch=name)
                head = b.current_snapshot()
                fork = b.snapshot(0)
            except TableFormatError:
                raise  # never skip a branch GC must hold
            except (OSError, ValueError):
                continue
            if head is None:
                continue
            out.append({"name": name,
                        "forked_from": fork.get("metrics", {}).get("forked_from"),
                        "head_snapshot_id": head["snapshot_id"],
                        "created_ms": fork.get("timestamp_ms")})
        out.sort(key=lambda r: r["name"])
        return out

    # ------------------------------------------------------------- writes
    def require_kind(self, snap: dict | None, kind: str) -> None:
        """Refuse a ``kind`` write onto ``snap`` of another kind: writers
        before their job runs, commit on the parent it lands on."""
        if snap is not None and snap["kind"] != kind:
            raise ValueError(f"{self.root} is a {snap['kind']} table: "
                             f"refusing a {kind} commit onto it")

    def new_run_dir(self) -> str:
        run_id = uuid.uuid4().hex[:12]
        return posixpath.join(self.root, "data", f"run-{run_id}")

    def commit(self, new_groups: dict[str, list[str]], metrics: dict | None = None,
               replace: bool = False, retries: int = 3,
               consolidate: bool = False,
               require_parent_id: int | None = None,
               kind: str = "tokens") -> dict:
        """Append ``new_groups`` to the current snapshot atomically.

        ``consolidate=True`` forces the manifest-merge path regardless
        of thresholds: the whole group map (sets + inline + this
        commit's groups) is rewritten into key-ordered, range-disjoint
        set files. Used by maintenance.rewrite_manifests to defragment
        metadata on demand (Iceberg's rewrite_manifests procedure).

        ``replace=True`` swaps the data paths of EXISTING group keys
        instead (Iceberg's rewrite-files semantics — used by
        compaction): the group's logical rows must be identical, only
        their physical layout changes. Old files stay referenced by the
        parent snapshot until expired, so time travel keeps working.

        Optimistic concurrency (Iceberg's commit loop over sequential
        versioned files): the commit targets exactly parent_id+1 and
        succeeds iff the content-atomic create-exclusive of that
        manifest succeeds. Losing the race means the winner's manifest
        now exists at that id, so the retry re-reads (roll-forward sees
        it immediately), re-bases the group map onto the winner, and
        re-validates — an append retries unless its group key now
        exists, a replace retries unless its key vanished. After
        ``retries`` lost races the FileExistsError propagates. The
        CURRENT hint write afterwards is advisory; crashing before it
        does not un-commit (readers roll forward past the hint).

        ``metrics`` holds this commit's own delta (``n_chunks``,
        ``n_rows``, ``n_tokens``, ``enc_bytes``, ``max_doc_parts``,
        ``extra_schema``); the commit adds the cumulative
        ``table_totals``, ``max_doc_parts_chain`` and
        ``extra_schema_chain`` from the parent it lands on. A caller
        that sets one of them itself re-anchors it (compact, purge and
        resalt measure whole-table values). ``table_totals`` counts
        every committed page, so it includes the copies pending deletes
        mask (delete and upsert commits remove no page) until compact or
        purge_deletes rewrites them away. Every snapshot written carries
        the table-format stamp (``"format": FORMAT``) and ``kind``;
        a commit of another kind than its parent's is refused before
        its claim."""
        last_err: Exception | None = None
        for _ in range(retries + 1):
            parent = self.current_snapshot()
            # conflict validation (Iceberg's validation-on-conflict):
            # callers whose rewrite is only correct against the EXACT
            # state they planned from (resalt changes the salt scheme
            # every chunk must agree on) refuse to rebase onto a moved
            # table instead of silently folding racing appends — whose
            # chunks would carry the OLD scheme — into the new layout
            if require_parent_id is not None:
                pid = parent["snapshot_id"] if parent else None
                if pid != require_parent_id:
                    raise RuntimeError(
                        f"concurrent commit: table advanced to snapshot "
                        f"{pid} while this operation planned against "
                        f"{require_parent_id}; re-run it against the "
                        "current state")
            self.require_kind(parent, kind)
            m = dict(metrics or {})
            # the partitioning scheme is chain-invariant between resalt
            # migrations: every commit inherits its parent's, so readers
            # take it from the one snapshot they hold
            if "scheme" not in m and parent is not None \
                    and parent["metrics"].get("scheme"):
                m["scheme"] = parent["metrics"]["scheme"]
            # the chain metrics are derived from THIS parent, so a commit
            # that lost a race re-derives them from the winner
            m.update(_chain_metrics(parent, m))
            sid = parent["snapshot_id"] + 1 if parent else 0
            inline = dict(parent["groups"]) if parent else {}
            sets = list(parent.get("group_manifests", [])) if parent else []
            prior_sets = {e["name"] for e in sets}
            if replace:
                # rewrite ONLY set files whose keys actually changed;
                # everything else is referenced verbatim (compaction
                # passes the full map with mostly-identical values)
                dirty: dict[str, dict] = {}
                for k, v in new_groups.items():
                    if k in inline:
                        inline[k] = v
                        continue
                    hit = None
                    for e in sets:  # key-range pruning on the set list
                        if e["min"] <= k <= e["max"] \
                                and k in self._read_groupset(e["name"]):
                            hit = e["name"]
                            break
                    if hit is None:
                        raise ValueError(f"cannot replace unknown group {k}")
                    if self._read_groupset(hit).get(k) != v:
                        dirty.setdefault(
                            hit, dict(self._read_groupset(hit)))[k] = v
                sets = [self._write_groupset(dirty[e["name"]])
                        if e["name"] in dirty else e for e in sets]
            else:
                # duplicate-key validation against the resolved key
                # space, reading only sets whose range can contain a
                # new key (consolidated sets are range-disjoint)
                keys = set(inline)
                for e in sets:
                    if any(e["min"] <= k <= e["max"] for k in new_groups):
                        keys |= self._read_groupset(e["name"]).keys()
                for k in new_groups:
                    if k in keys:
                        raise ValueError(
                            f"group {k} already committed "
                            f"(snapshot {parent['snapshot_id']})")
                inline.update(new_groups)
            spill = len(inline) > spill_threshold()
            if (consolidate and (sets or inline)) or \
                    (spill and len(sets) + 1 > merge_sets_threshold()):
                # manifest merge: consolidate into key-ordered,
                # range-disjoint chunks so both the set list and
                # per-commit validation reads stay bounded forever
                full = {}
                for e in sets:
                    full.update(self._read_groupset(e["name"]))
                full.update(inline)
                ks = sorted(full)
                chunk = max(spill_threshold() * 64, 1)
                sets = [self._write_groupset(
                    {k: full[k] for k in ks[i:i + chunk]})
                    for i in range(0, len(ks), chunk)]
                inline = {}
            elif spill:
                sets = sets + [self._write_groupset(inline)]
                inline = {}
            snap = {
                "format": FORMAT,
                "kind": kind,
                "snapshot_id": sid,
                "parent_id": parent["snapshot_id"] if parent else None,
                "timestamp_ms": int(time.time() * 1000),
                "groups": inline,
                "new_groups": sorted(new_groups),
                "metrics": m,
            }
            if sets:
                snap["group_manifests"] = sets
            name = f"snapshot-{sid:06d}.json"
            try:
                self.fs.create_excl(posixpath.join(self.manifest_dir, name),
                                    json.dumps(snap, indent=1))
            except FileExistsError as e:
                last_err = e
                occ = self._read_snap(sid)
                if occ == snap:
                    # ambiguous commit resolved: the occupant IS our own
                    # manifest — the store-level PUT succeeded but its
                    # response was lost and a client retry surfaced the
                    # conditional-PUT conflict (e.g. boto3 retrying an
                    # If-None-Match PUT whose first attempt landed).
                    # This is a WIN: our spilled set files are
                    # referenced and must NOT be reclaimed, and
                    # retrying would self-collide on duplicate keys.
                    self.fs.write_atomic(
                        posixpath.join(self.manifest_dir, "CURRENT"), name)
                    return snap
                # set files spilled by THIS failed attempt can never be
                # referenced by anyone else (uuid names, written only
                # for the snapshot id we just lost): reclaim them now —
                # best-effort — instead of leaving them to age-guarded
                # orphan GC (which still covers the crash-mid-commit
                # case this in-process cleanup cannot)
                for e_ in sets:
                    if e_["name"] not in prior_sets:
                        try:
                            self.fs.delete(posixpath.join(
                                self.groupsets_dir(), e_["name"]))
                        except Exception:
                            pass
                if occ is None:
                    # the id is occupied by an unreadable file — with
                    # content-atomic claims that is external corruption
                    # (or a torn claim from the pre-upgrade protocol),
                    # and retrying would recompute the same id forever.
                    # remove_orphan_files ages torn manifests out.
                    raise RuntimeError(
                        f"snapshot file {name} under {self.manifest_dir} exists "
                        "but is not a well-formed manifest; run "
                        "remove_orphan_files (age-guarded) or remove it "
                        "manually to unwedge the table") from e
                if occ.get("parent_id") != snap["parent_id"]:
                    # occupied by a DEAD claim of the old claim-then-swap
                    # protocol (its parent link bypasses the current
                    # snapshot); retrying would loop on the same id, and
                    # skipping past it would break roll-forward reads.
                    raise RuntimeError(
                        f"snapshot id {sid} is occupied by a stale-parent "
                        f"claim (parent {occ.get('parent_id')}, expected "
                        f"{snap['parent_id']}) left by the legacy commit "
                        "protocol; run remove_orphan_files (age-guarded) "
                        "to clear it") from e
                continue  # lost the race: re-base on the winner and retry
            self.fs.write_atomic(posixpath.join(self.manifest_dir, "CURRENT"), name)
            return snap
        raise last_err
