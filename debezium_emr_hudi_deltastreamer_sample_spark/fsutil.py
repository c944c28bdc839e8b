"""Filesystem commit primitives behind every versioned log of the engine.

``CommitTimeline`` is the one place that knows commit naming, seq
allocation, publishing and retention. Five logs run on it — the schema
sidecar (``{table}__schema/v…``), the writer lease (``{table}__writer/e…``),
COW snapshots (``{table}__snapshots/s…``), MOR base versions
(``{table}/base__commits/v…_t…``) and rollup commits
(``{rollup}__commits/c…``) — and each caller keeps only its policy: what
goes into a stage, when to retry, which seqs to keep. The stage-and-swap
table publish (``swap_table_dir``) is the one commit outside a timeline.

Every publish is a named-commit CAS — "make this staged directory the
content of commit NAME, iff NAME is unclaimed" — behind a pluggable
protocol picked per path scheme (``commit_protocol``):

**rename** (HDFS, local — stores with atomic directory rename): stage a
directory, rename it to the commit name; the rename IS the CAS. One
Hadoop quirk breaks that premise on LocalFileSystem (and any
POSIX-`mv`-semantics store): renaming a directory onto an EXISTING
directory moves the source INSIDE the target and still returns true —
the loser's commit would silently nest inside the winner's, corrupting
reads of that commit. `rename_commit` closes the hole: pre-check,
rename, then detect-and-undo the move-into case (stage basenames are
uuids, so the nested-name probe cannot collide with real commit
content). On HDFS the extra probes are two cheap namenode calls.

**pointer** (S3/GCS/ABFS — object stores, where directory "rename" is a
non-atomic copy+delete that can tear mid-commit): the staged directory
is never moved; the CAS is the atomic creation of a tiny single FILE
``<name>.commit`` whose content is the staged directory's path — the
Delta/Iceberg commit-pointer shape. Object stores CAN create one object
conditionally (S3 conditional PUT / If-None-Match, GCS
x-goog-if-generation-match:0; through Hadoop: ``FileSystem.create``
with ``overwrite=false`` and ``fs.s3a.create.conditional.enabled=true``
on Hadoop >= 3.4.1), so the claim is atomic where directory rename is
not. The claim carries its CONTENT in the same atomic operation — on a
conditional-create store the object materializes fully written at
``close()`` (one conditional PUT), and on the local filesystem the
pointer is hard-linked into place already filled (link(2) fails EEXIST
atomically) — so there is NO visible-but-unresolved window from a LIVE
writer. Readers still treat an empty/unreadable pointer as burned —
legacy claims from the old two-step protocol, or external tools, stay
skipped-for-reads / counted-for-allocation, and incremental publishers
wait them out (``CommitTimeline.settle``). Stores that can neither
hard-link nor conditionally create REFUSE the pointer protocol loudly
(``_require_conditional_create``) instead of silently degrading the
CAS to exists-check + PUT, where two writers can both "win" a name.

Protocol selection: ``SPARK_GRAFT_COMMIT_PROTOCOL`` env
(``rename``/``pointer``) overrides for tests and fuzz lanes; otherwise
object-store URI schemes get pointer, everything else rename."""

from __future__ import annotations

import json
import os
import re
import string
import time
import uuid
from contextlib import contextmanager

#: URI schemes whose directory rename is copy+delete (non-atomic): the
#: rename-CAS can tear there, so commits go through the pointer protocol.
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs",
     "abfs", "abfss"}
)


def commit_protocol(path: str) -> str:
    """``"rename"`` or ``"pointer"`` for commits under ``path``. The env
    override exists so the pointer path is drivable (tests, crash-injection
    fuzz lanes) on the local filesystem."""
    env = os.environ.get("SPARK_GRAFT_COMMIT_PROTOCOL")
    if env in ("rename", "pointer"):
        return env
    scheme = path.split("://", 1)[0].split(":", 1)[0] if ":" in path else ""
    return "pointer" if scheme.lower() in _OBJECT_STORE_SCHEMES else "rename"


def rename_commit(
    fs,
    hpath,
    stage: str,
    target: str,
    _test_before_rename=None,
    _test_after_rename=None,
) -> bool:
    """Publish ``stage`` as ``target`` with CAS semantics: True iff this
    call made ``target`` exist with exactly the staged content. Returns
    False (leaving ``stage`` in place for the caller to retry or clean
    up) when a concurrent writer holds the name.

    The verdict is decided by a CAS WITNESS, not by nested-dir absence: a
    zero-byte ``._cas_<stage-uuid>`` file is written into the stage before
    the rename, and the publish counts as won iff that witness sits at the
    TARGET TOP LEVEL afterwards. The historical verdict ("no nested dir
    under target ⇒ we won") had a silent lost-update window found by the
    round-12 gate run of the threaded rollup hunt: when a lost CAS
    degrades to LocalFileSystem's non-atomic copy-INTO (our stage becomes
    ``target/<uuid>/``), a CONCURRENT scanner's crash-garbage heal
    (IncrementalRollup._provenance / KeyedTable.snapshots delete
    directory members of published commits) can remove that nested copy
    between our rename returning and our nested-exists probe — the loser
    then saw a clean
    target, reported True, and its batch was durably gone while the
    (run, batch) marker it thought it published was deleted with the
    nested dir. The witness is writer-unique (stage names are uuids), so
    no heal or concurrent writer can fake it. On a WON publish the
    witness is removed afterwards (post-CAS cosmetic — a crash before
    that delete leaves a dot-file that every reader, scanner and the
    marker regexes already ignore).

    ``_test_before_rename`` / ``_test_after_rename`` are race-injection
    seams for the deterministic regression test (create the winner between
    the exists-probe and the rename; run the concurrent heal between the
    rename and the verdict). Never passed in production code."""
    if fs.exists(hpath(target)):
        return False
    base = stage.rstrip("/").rsplit("/", 1)[-1]
    witness = f"._cas_{base}"
    fs.createNewFile(hpath(f"{stage}/{witness}"))
    if _test_before_rename is not None:
        _test_before_rename()
    try:
        renamed = fs.rename(hpath(stage), hpath(target))
    except Exception:
        # LocalFileSystem implements rename-onto-an-EXISTING-directory as
        # a NON-ATOMIC FileUtil.copy fallback (RawLocalFileSystem.rename),
        # and a concurrent scanner's crash-garbage heal can delete the
        # half-copied nested dir mid-copy — the copy then dies with
        # FileNotFoundException on its next destination file. Semantically
        # that is just a LOST CAS (a winner holds the name): clean any
        # partial nested copy best-effort and report failure; the stage is
        # left for the caller per the contract (the failed copy does not
        # consume it). Found by the threaded rollup hunt
        # (tests/test_concurrency_hunt.py).
        try:
            fs.delete(hpath(f"{target}/{base}"), True)
        except Exception:
            pass
        return False
    if _test_after_rename is not None:
        _test_after_rename()
    if not renamed:
        return False
    if fs.exists(hpath(f"{target}/{witness}")):
        # Our stage IS the commit. Drop the (now purposeless) witness;
        # failure to delete is harmless — dot-files are invisible to
        # parquet readers, list_commits, and the commit-member scans.
        try:
            fs.delete(hpath(f"{target}/{witness}"), False)
        except Exception:
            pass
        return True
    # Lost CAS: either our content sits nested under the winner
    # (POSIX move-INTO / copy fallback — undo it) or a concurrent heal
    # already removed it. Either way the name belongs to someone else.
    # Residual window: a crash BETWEEN the rename and this delete leaves
    # the stage nested inside the winner's commit — readers heal that via
    # heal_nested_dirs on the listing path (commit dirs are flat by
    # protocol, so any directory member is crash garbage).
    try:
        fs.delete(hpath(f"{target}/{base}"), True)
    except Exception:
        pass
    return False


def _fs_is_local(fs) -> bool:
    """True iff the RESOLVED FileSystem client is the local filesystem.
    The hard-link claim must be gated on this, not on path shape: a
    scheme-less ``/table`` path resolves through ``fs.defaultFS``, and
    with ``hdfs://`` as the default (the documented env-override HDFS
    pointer path) a shape-only gate would hard-link the pointer onto the
    DRIVER'S local disk while every fs.exists/list_commits consults HDFS —
    publish_commit "succeeds" but no reader ever sees the commit, and two
    drivers on different nodes can both win the same name."""
    try:
        return str(fs.getUri()).startswith("file:")
    except Exception:
        return False


def _local_os_path(path: str) -> str | None:
    """OS filesystem path for a local path/URI (``/p``, ``file:/p``,
    ``file:///p``, ``file://localhost/p``), else None. One of the TWO
    gates for the hard-link claim in ``pointer_commit`` — link(2) only
    exists on a real local filesystem, and the resolved FileSystem must
    agree (``_fs_is_local``): a scheme-less path under a non-local
    fs.defaultFS is NOT local even though it starts with ``/``."""
    if path.startswith("/"):
        return path
    if not path.startswith("file:"):
        return None
    tail = path[len("file:"):]
    if tail.startswith("//"):
        tail = tail[2:]
        slash = tail.find("/")
        if slash == -1:
            return None
        host, tail = tail[:slash], tail[slash:]
        if host not in ("", "localhost"):
            return None
    return tail or None


#: Conditional-create capability, probed once per FileSystem URI. Keyed on
#: the fs client, not the path: the capability is a property of the store
#: (+ its Hadoop connector version/config), identical for every path on it.
_CONDITIONAL_CREATE_OK: dict[str, bool] = {}


def _require_conditional_create(fs, hpath, path: str) -> None:
    """Fail LOUDLY when the pointer CAS cannot actually be atomic on this
    store. On object stores, ``fs.create(path, overwrite=false)`` is only a
    real compare-and-swap when the connector issues a conditional PUT
    (S3A: Hadoop >= 3.4.1 with ``fs.s3a.create.conditional.enabled``);
    without it the call degrades to exists-check + PUT, where two writers
    can both "win" the same commit name and the later close() silently
    clobbers the earlier pointer — the exact torn-commit class the pointer
    protocol exists to close. Probed via ``hasPathCapability`` with the
    documented config flag as the fallback signal; non-object-store
    schemes (HDFS-semantics stores reached via the env override) pass
    unconditionally — their ``create(overwrite=false)`` is an atomic
    namenode operation already."""
    scheme = path.split("://", 1)[0].split(":", 1)[0] if ":" in path else ""
    if scheme.lower() not in _OBJECT_STORE_SCHEMES:
        return
    key = str(fs.getUri())
    ok = _CONDITIONAL_CREATE_OK.get(key)
    if ok is None:
        ok = False
        for cap in (
            "fs.capability.conditional.create",
            "fs.capability.create.conditional",
        ):
            try:
                if fs.hasPathCapability(hpath(path), cap):
                    ok = True
                    break
            except Exception:
                pass
        if not ok and scheme.lower() in ("s3", "s3a", "s3n"):
            try:
                ok = bool(
                    fs.getConf().getBoolean(
                        "fs.s3a.create.conditional.enabled", False
                    )
                )
            except Exception:
                ok = False
        _CONDITIONAL_CREATE_OK[key] = ok
    if not ok:
        raise RuntimeError(
            f"pointer commit protocol requires atomic conditional create on "
            f"{scheme}:// but the FileSystem reports no such capability — "
            "on S3A this needs Hadoop >= 3.4.1 with "
            "fs.s3a.create.conditional.enabled=true. Refusing to publish "
            "through a non-atomic CAS (two writers could both claim one "
            "commit name). Enable conditional create, or set "
            "SPARK_GRAFT_COMMIT_PROTOCOL=rename if this store has atomic "
            "directory rename."
        )


def pointer_commit(fs, hpath, stage: str, target: str) -> bool:
    """Publish ``stage`` as commit ``target`` WITHOUT moving it: atomically
    create the single pointer file ``<target>.commit`` ALREADY FILLED with
    the staged directory's path (the CAS — see the module docstring for
    why this is the object-store-safe shape). True iff this call claimed
    the name; on False the stage is left in place for the caller, exactly
    like ``rename_commit`` (the pointer CAS never consumes the stage).

    Claim and fill are ONE atomic operation — the round-10 two-step shape
    (createNewFile, then write) left a visible-but-unresolved window in
    which an incremental publisher (rollup, schema sidecar) could merge
    from the stale resolved tip while allocating past the in-flight name,
    publishing a successor that silently excluded the in-flight commit.
    Local filesystem: content is written to a temp sibling and hard-linked
    to the pointer name (link(2) fails EEXIST atomically; the name appears
    fully written or not at all). Object stores: ``create(overwrite=false)``
    + write + close is a single conditional PUT — the object materializes
    with content at close() — guarded by ``_require_conditional_create``.

    Readers resolve the pointer through ``list_commits``; an empty pointer
    (a legacy two-step claim whose filler crashed, or external tooling)
    resolves to ``content=None`` — skipped for reads, counted for name
    allocation."""
    ptr = f"{target}.commit"
    if fs.exists(hpath(target)) or fs.exists(hpath(ptr)):
        return False
    data = stage.encode("utf-8")
    # Hard-link branch requires BOTH a local-shaped path AND a local
    # resolved FileSystem (see _fs_is_local) — a scheme-less path under
    # hdfs:// defaultFS must fall through to the fs.create CAS below,
    # which is an atomic namenode op on HDFS-semantics stores.
    local = _local_os_path(ptr) if _fs_is_local(fs) else None
    if local is not None:
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = f"{local}.fill{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "wb") as fh:
                fh.write(data)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, local)
            except FileExistsError:  # lost the CAS to a concurrent writer
                return False
            except OSError as e:
                # Anything OTHER than EEXIST is not a lost CAS — it is the
                # store refusing link(2) itself (FUSE/NFS/overlay mounts
                # without hard-link support). Returning False here would
                # make every attempt "lose", burn 5 fresh seq names and
                # die with a misleading rename-failure error; refuse
                # loudly with the real cause instead.
                raise RuntimeError(
                    f"pointer commit at {local}: this filesystem refused "
                    f"hard links ({e.strerror or e}) — the local pointer "
                    "CAS needs link(2). Use "
                    "SPARK_GRAFT_COMMIT_PROTOCOL=rename on this store, or "
                    "move the table to a link-capable filesystem."
                ) from e
            return True
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
    _require_conditional_create(fs, hpath, ptr)
    try:
        out = fs.create(hpath(ptr), False)
    except Exception:
        return False  # FileAlreadyExists — lost the CAS
    try:
        out.write(bytearray(data))
        out.close()
    except Exception:
        # close() is where the conditional PUT lands on object stores — a
        # failure here IS a lost CAS (nothing materialized, or a racer won).
        return False
    return True


def publish_commit(fs, hpath, stage: str, target: str) -> bool:
    """Protocol-dispatched commit publish (CAS on the commit name). Both
    protocols share the caller contract: True = the commit exists with the
    staged content; False = lost the name to a concurrent writer — retry
    with a fresh name or give up, deleting the stage IF it still exists
    (the rename protocol's move-INTO undo may have consumed it)."""
    if commit_protocol(target) == "pointer":
        return pointer_commit(fs, hpath, stage, target)
    return rename_commit(fs, hpath, stage, target)


def claim_stall_budget() -> float:
    """Quiescence budget (seconds) before a claimed-but-unresolved commit
    name may be declared burned. Env-overridable
    (``SPARK_GRAFT_CLAIM_STALL_SEC``) so fuzz lanes and tests can tighten
    or stretch it; the default trades ~1 s of publisher latency — paid
    ONLY when an unresolved claim is actually in the way, never on the
    hot path — for surviving multi-hundred-ms filler pauses (GC, slow
    namenode) on the legacy two-step pointer stores."""
    try:
        return float(os.environ.get("SPARK_GRAFT_CLAIM_STALL_SEC", "1.0"))
    except ValueError:
        return 1.0


def claim_is_stalled(
    fs, hpath, ptr_path: str, seen: dict[str, tuple[object, float]],
    budget_sec: float | None = None,
) -> bool:
    """Stall-based burned-claim arbiter: True only when the claim pointer
    at ``ptr_path`` has shown NO liveness — (mtime, length) signature
    unchanged — for ``budget_sec`` of monotonic time. A fixed wait count
    (the round-11 shape, 4×50 ms) burned any LIVE legacy two-step filler
    that paused >200 ms between create and close; the stall clock instead
    resets whenever the claim's signature advances, so only a genuinely
    quiescent claim ages toward burned. ``seen`` is the caller's
    observation memory (ptr_path → (signature, first-seen-at)); a missing
    pointer file (hole from retention, or rename-protocol name) yields a
    None signature and ages like any other quiescent claim."""
    if budget_sec is None:
        budget_sec = claim_stall_budget()
    try:
        st = fs.getFileStatus(hpath(ptr_path))
        sig: object = (st.getModificationTime(), st.getLen())
    except Exception:
        sig = None
    now = time.monotonic()
    prev = seen.get(ptr_path)
    if prev is None or prev[0] != sig:
        seen[ptr_path] = (sig, now)
        return False
    return (now - prev[1]) >= budget_sec


def list_commits(fs, hpath, spark, dir_path: str) -> list[tuple[str, str | None]]:
    """Commits under ``dir_path`` as (name, content_uri) pairs, unsorted —
    callers filter by their name pattern and sort. Directory members are
    rename-protocol commits (content = the directory itself); ``*.commit``
    files are pointers (content = the staged dir they name, or None while
    in-flight/burned — callers must skip None for reads but still treat
    the NAME as allocated). One listing plus one small-file read per
    pointer; rename-protocol tables pay no extra I/O."""
    try:
        if not fs.exists(hpath(dir_path)):
            return []
        listed = fs.listStatus(hpath(dir_path))
    except Exception:
        return []
    dirs: dict[str, str] = {}
    ptrs: dict[str, str | None] = {}
    for st in listed:
        name = st.getPath().getName()
        if st.isDirectory():
            dirs[name] = str(st.getPath())
        elif name.endswith(".commit"):
            try:
                data = read_small_file(fs, hpath, spark, str(st.getPath()))
                content = data.decode("utf-8").strip() if data else None
            except Exception:
                content = None
            if content and not fs.exists(hpath(content)):
                content = None  # retention deleted the content first: torn
            ptrs[name[: -len(".commit")]] = content or None
    # A name claimed BOTH ways can only come from flipping the protocol env
    # mid-table; the directory form is self-contained — it wins.
    ptrs.update(dirs)
    return list(ptrs.items())


def delete_commit(fs, hpath, dir_path: str, name: str, content: str | None) -> None:
    """Retention-delete one commit, protocol-agnostic and best-effort.
    Pointer first, content second: a reader that already resolved the
    pointer may still scan the (immutable) content files, same retention
    race as the rename protocol; deleting content FIRST would leave a
    live pointer to nothing — a torn commit readers would trip on."""
    ptr = f"{dir_path}/{name}.commit"
    try:
        if fs.exists(hpath(ptr)):
            fs.delete(hpath(ptr), False)
    except Exception:
        pass
    for victim in (content, f"{dir_path}/{name}"):
        if not victim:
            continue
        try:
            fs.delete(hpath(victim), True)
        except Exception:
            pass


def heal_nested_dirs(fs, hpath, commit_uri: str) -> None:
    """Delete DIRECTORY members of a published commit dir.

    Both commit protocols (KeyedTable snapshots, rollup commits) publish
    FLAT directories — parquet parts, _SUCCESS, provenance markers; never
    subdirectories. The one way a subdirectory appears is the
    rename_commit move-INTO undo dying between its rename and its delete
    (loser's staged uuid dir nested inside the winner's commit), which
    breaks subsequent parquet reads of that commit with conflicting
    directory structures. In-flight stages live under ``<path>__stage/``,
    a sibling tree — never inside a commit — so deleting directory
    members here can only remove crash garbage."""
    for st in fs.listStatus(hpath(commit_uri)):
        if st.isDirectory():
            fs.delete(st.getPath(), True)


#: Burned-claim memo, process-wide: timeline dir → seqs of claimed-but-
#: never-resolved names already waited out (legacy two-step pointer claims
#: whose filler crashed). Tables, sidecars and leases are constructed per
#: micro-batch, so the memo must outlive them — re-paying the stall wait
#: on every commit would tax the hot path for a name burned forever.
_BURNED: dict[str, set[int]] = {}
#: Claim-pointer observation memory for ``claim_is_stalled`` (ptr path →
#: (signature, first-seen-at)), process-wide for the same reason.
_CLAIM_SEEN: dict[str, tuple[object, float]] = {}
_MEMO_MAX = 4096


def _bounded(memo: dict) -> dict:
    """``memo``, emptied first once it holds ``_MEMO_MAX`` entries: a
    long-lived driver touching many thousands of tables must not grow it
    without limit. Forgetting costs at most one more stall wait, and
    ``clear`` is atomic under concurrent publisher threads."""
    if len(memo) >= _MEMO_MAX:
        memo.clear()
    return memo


class CommitTimeline:
    """One named-seq commit log under ``dir``: listing and parsing,
    seq allocation, staging, the CAS publish, retention, and the wait on
    unresolved claims. Callers keep only their policy (stage content,
    retry rule, which seqs to keep).

    ``name_pattern`` formats a commit name from ``seq`` and an optional
    integer ``tag`` (``"v{seq:012d}_t{tag:012d}"``); it is also the one
    name shape the listing parses — anything else under ``dir`` is not a
    commit. Entries are ``(seq, tag, uri)``, seq-ascending, ``tag`` None
    when the pattern has none and ``uri`` None for a claimed-but-unresolved
    pointer name: skipped for reads, counted for allocation."""

    def __init__(self, spark, dir: str, name_pattern: str, stage_root: str) -> None:
        self.spark = spark
        self.dir = dir
        self.name_pattern = name_pattern
        self.stage_root = stage_root
        self.fs, self.hpath = hadoop_fs(spark, dir)
        self._name_re = re.compile(
            "".join(
                re.escape(literal) + (rf"(?P<{field}>\d+)" if field else "")
                for literal, field, _, _ in string.Formatter().parse(name_pattern)
            )
        )
        #: Seqs of this log declared burned (shared by every instance).
        self.burned = _bounded(_BURNED).setdefault(dir, set())

    def name(self, seq: int, tag: int | None = None) -> str:
        return self.name_pattern.format(seq=seq, tag=tag)

    def entries(self) -> list[tuple[int, int | None, str | None]]:
        """Every claimed commit of this log — one ``list_commits``."""
        out = []
        for name, uri in list_commits(self.fs, self.hpath, self.spark, self.dir):
            m = self._name_re.fullmatch(name)
            if m:
                tag = m.groupdict().get("tag")
                out.append((int(m["seq"]), None if tag is None else int(tag), uri))
        out.sort(key=lambda e: (e[0], e[1] or 0))
        return out

    @staticmethod
    def resolved(entries):
        """The readable entries (burned and in-flight names dropped)."""
        return [e for e in entries if e[2] is not None]

    @staticmethod
    def next_seq(entries) -> int:
        """First free seq: past every CLAIMED name, burned ones included —
        reallocating a burned name would fail the CAS on every retry."""
        return entries[-1][0] + 1 if entries else 0

    @contextmanager
    def stage(self):
        """A fresh stage path, deleted if the body raises — a failing
        stage write must not leak one uuid dir per retry."""
        stage = f"{self.stage_root}/{uuid.uuid4().hex}"
        try:
            yield stage
        except BaseException:
            self._drop(stage)
            raise

    def _drop(self, path: str) -> None:
        try:
            self.fs.delete(self.hpath(path), True)
        except Exception:
            pass

    def publish(
        self, stage: str, seq: int, tag: int | None = None, built_on=None
    ) -> bool:
        """CAS-publish ``stage`` as commit ``seq``. True = the commit holds
        the staged content; False = the name went to another writer, and
        the stage is deleted — re-list and retry with a fresh seq.

        ``built_on`` is the settled listing an INCREMENTAL stage was
        derived from (its content folds the newest resolved entry). The log
        is re-listed once right before the CAS, and the stage counts as
        lost if the log moved on: a newer name was claimed, or a burned
        claim resolved late. Without that recheck a stale publisher could
        win a seq that retention had already deleted below the newest
        commit, publishing content no reader ever folds, or publish past a
        late fill it never included."""
        if built_on is not None:
            fresh = self.entries()
            self._unburn(fresh)
            if self.next_seq(fresh) > self.next_seq(built_on) or _newest_resolved(
                fresh
            ) > _newest_resolved(built_on):
                self._drop(stage)
                return False
        self.fs.mkdirs(self.hpath(self.dir))
        target = f"{self.dir}/{self.name(seq, tag)}"
        if not publish_commit(self.fs, self.hpath, stage, target):
            # The rename protocol's move-INTO undo may have consumed it.
            self._drop(stage)
            return False
        # Drop the stage root once empty. Non-recursive: a concurrent
        # writer's in-flight stage (or pointer content) keeps it.
        try:
            self.fs.delete(self.hpath(self.stage_root), False)
        except Exception:
            pass
        return True

    def trim(self, entries, keep) -> None:
        """Retention: ``delete_commit`` every listed entry whose seq is not
        in ``keep``."""
        for seq, tag, uri in entries:
            if seq not in keep:
                delete_commit(self.fs, self.hpath, self.dir, self.name(seq, tag), uri)

    def _unburn(self, entries) -> None:
        # Late resolution: a name once declared burned that now shows
        # RESOLVED was a live filler after all.
        self.burned.difference_update(s for s, _, uri in entries if uri is not None)

    def settle(self, entries):
        """Wait out claimed-but-unresolved names above the newest resolved
        entry, then return the listing to build on. Incremental publishers
        (sidecar, rollup) fold the newest resolved commit into the next:
        building past an in-flight claim — a filler on a store where claim
        and fill are two visible steps — would publish a successor that
        silently excludes it. The wait is stall-based
        (``claim_is_stalled``): it lasts while a claim shows liveness, and
        only claims quiescent for the whole budget are declared burned —
        remembered in ``burned``, so later publishes skip the wait."""
        delay = 0.05
        while True:
            self._unburn(entries)
            top = _newest_resolved(entries)
            gap = [
                (s, t) for s, t, uri in entries
                if s > top and uri is None and s not in self.burned
            ]
            if not gap:
                return entries
            seen = _bounded(_CLAIM_SEEN)
            if all(
                claim_is_stalled(
                    self.fs, self.hpath,
                    f"{self.dir}/{self.name(s, t)}.commit", seen,
                )
                for s, t in gap
            ):
                self.burned.update(s for s, _ in gap)
                return entries
            time.sleep(delay)
            delay = min(delay * 2, 0.4)
            entries = self.entries()


def _newest_resolved(entries) -> int:
    return max((s for s, _, uri in entries if uri is not None), default=-1)


def hadoop_fs(spark, path: str):
    """Resolve (FileSystem, Path-class) for ``path`` — the one shared
    getter behind every rename-commit call site (KeyedTable snapshots,
    DeltaLogTable versions, rollup commits). Resolving PER PATH matters on
    mixed deployments: the scheme (file://, hdfs://, s3a://) picks the
    FileSystem implementation, so a table on object storage and a
    checkpoint on HDFS get their own clients."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def write_small_file(fs, hpath, path: str, data: bytes) -> None:
    """Create/overwrite one small file through the table's FileSystem (same
    client the commit protocol uses, so scheme/permissions behavior
    matches the data files). Used for the schema-sidecar commits — the
    bytes are staged into a directory and published via rename_commit, so
    this write itself needs no atomicity."""
    out = fs.create(hpath(path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_small_file(fs, hpath, spark, path: str) -> bytes | None:
    """Read one small file fully, or None when missing. Corrupt/unreadable
    content raises at the caller's json/schema parse — callers treat that
    as 'no sidecar' and fall back to footer inference."""
    if not fs.exists(hpath(path)):
        return None
    stream = fs.open(hpath(path))
    try:
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()


def parquet_data_exists(spark, path: str) -> bool:
    """Cheap existence probe: does ``path`` hold at least one parquet data
    file? One recursive FS listing, short-circuited at the first
    ``*.parquet`` hit — ~5 ms of filesystem calls where the historical
    DataFrame-construction probe (``spark.read.parquet`` + forced
    analysis) paid ~90 ms of py4j/footer work per call; hot CDC paths
    (KeyedTable.upsert, the IVM refresh) probe existence once or more per
    batch, so the old cost was ~2 s of a 24 s five-batch IVM replay.

    Contract matches the MISSING/EMPTY mapping of
    ``read_parquet_if_present``: a missing directory or one with no
    ``*.parquet`` file anywhere below it (Spark's writers always suffix
    data files ``.parquet``; ``_SUCCESS``/sidecar files don't match) is
    False; any listing failure other than not-found RAISES. A corrupt
    FOOTER now surfaces at the subsequent read/merge instead of inside
    the probe — still loud, and on the merge path, so a footer blip can
    never route a caller to its bootstrap-overwrite branch (the wipe
    hazard the narrow contract exists to prevent — this probe errs only
    toward exists=True)."""
    fs, hpath = hadoop_fs(spark, path)
    p = hpath(path)
    saw_visible = False
    try:
        if not fs.exists(p):
            return False
        root = fs.getFileStatus(p).getPath().toUri().getPath().rstrip("/")
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next().getPath()
            # Hidden/underscore path segments below the root (_temporary
            # crash garbage, .staging) are invisible to Spark's reader —
            # they must be invisible to the probe too, or a crashed
            # first write's half-committed task files would flip an
            # EMPTY verdict to exists=True.
            rel = f.toUri().getPath()[len(root):].lstrip("/")
            if any(seg[:1] in ("_", ".") for seg in rel.split("/")):
                continue
            if f.getName().endswith(".parquet"):
                return True
            saw_visible = True
    except Exception as e:  # noqa: BLE001 — map only not-found to False
        if "FileNotFound" in type(e).__name__ or "FileNotFound" in str(e):
            return False
        raise
    if saw_visible:
        # Visible data files, none suffixed ``.parquet``: this system's own
        # writes always suffix, but an EXTERNAL writer's may not — deciding
        # "missing" on the suffix alone would route KeyedTable.upsert to
        # its bootstrap-overwrite branch and silently wipe that data
        # (ADVICE r12). Fall back to the authoritative reader probe, which
        # keeps the narrow contract: readable → True, MISSING/EMPTY →
        # False, anything else raises.
        return read_parquet_if_present(spark, path) is not None
    return False


def table_swap_journal(path: str) -> str:
    """Sibling journal file for the stage-and-swap table publish
    (``swap_table_dir``): present iff a swap is in flight or was torn by
    a crash. Kept next to the table dir (like ``__schema``/``__writer``)
    so renaming the table dir itself never moves it."""
    return f"{path}__swap.journal"


def recover_table_swap(spark, path: str) -> None:
    """Heal a torn stage-and-swap publish left by a process kill.

    Invariant the journal protocol guarantees: the journal is written
    only AFTER the staged table directory is fully written, and deleted
    only AFTER the swap is complete (or rolled back). So when a journal
    exists, exactly one of these crash windows happened, each with one
    correct repair:

    - table dir + stage both present → crash before any rename: nothing
      was published; drop the orphan stage and the journal (the caller's
      at-least-once redelivery re-applies the batch).
    - table dir missing, stage present → crash between retire and
      publish: the staged table is COMPLETE — roll the swap forward.
    - table dir missing, stage missing → the retired copy is the only
      one: roll back (rename retire → table).
    - table dir present, stage missing → the swap completed, the crash
      hit cleanup: just clear the journal and the retired copy.

    A half-written (unparseable) journal can only mean the crash hit the
    journal write itself — before any rename — so the table is intact and
    the journal is dropped. The one unrepairable shape (no journal
    content AND no table dir) raises instead of guessing: silently
    returning would let ``KeyedTable.upsert`` take its
    bootstrap-overwrite branch and wipe the table down to one batch.

    No-op (one fs.exists) when no journal is present — the steady state
    every read/exists probe pays."""
    fs, hpath = hadoop_fs(spark, path)
    journal = table_swap_journal(path)
    if not fs.exists(hpath(journal)):
        return
    stage = retire = None
    try:
        data = read_small_file(fs, hpath, spark, journal)
        if data:
            j = json.loads(data.decode("utf-8"))
            stage, retire = j["stage"], j["retire"]
    except Exception:
        stage = retire = None
    if stage is None:
        if fs.exists(hpath(path)):
            fs.delete(hpath(journal), False)
            return
        raise RuntimeError(
            f"torn table swap at {path}: journal unreadable and the table "
            f"directory is missing — refusing to guess (look under "
            f"{path}__retire / {path}__stage)"
        )
    have_path = fs.exists(hpath(path))
    have_stage = fs.exists(hpath(stage))
    if have_path and have_stage:
        fs.delete(hpath(stage), True)
    elif not have_path and have_stage:
        # A failed rename is fine when the table is there after all: the
        # in-flight writer (or another healer) published it meanwhile.
        # (Hadoop raises, rather than returns False, on a vanished source.)
        try:
            moved = fs.rename(hpath(stage), hpath(path))
        except Exception:
            moved = False
        if not moved and not fs.exists(hpath(path)):
            raise RuntimeError(
                f"table swap recovery: roll-forward rename {stage} -> "
                f"{path} failed"
            )
    elif not have_path:
        if not (
            retire
            and fs.exists(hpath(retire))
            and fs.rename(hpath(retire), hpath(path))
        ):
            raise RuntimeError(
                f"torn table swap at {path}: table, stage and retired copy "
                "all missing — refusing to let a bootstrap wipe the table"
            )
    fs.delete(hpath(journal), False)
    if retire:
        try:
            fs.delete(hpath(retire), True)
        except Exception:
            pass


def swap_table_dir(
    spark,
    path: str,
    stage: str,
    _test_after_journal=None,
    _test_after_retire=None,
    _test_after_publish=None,
) -> None:
    """Publish the fully-written directory ``stage`` AS the table ``path``
    with two atomic directory renames instead of a second full write —
    the stage-and-swap COW commit (guide §6): the caller computes the
    merge ONCE straight into the stage, then this swap makes it the
    table. Only valid where directory rename is atomic
    (``commit_protocol(path) == "rename"``); object-store tables keep the
    in-place overwrite.

    Crash safety: every window is journaled (``table_swap_journal``) and
    healed by ``recover_table_swap`` — strictly smaller exposure than the
    in-place Spark overwrite it replaces, whose delete-then-rewrite
    leaves the table empty/partial for the whole write, with no repair
    record at all. Single-writer context (the caller holds the
    WriterLease), so the journal needs no CAS.

    ``_test_after_*`` are crash-injection seams for the deterministic
    recovery tests; never passed in production code."""
    recover_table_swap(spark, path)  # clear any stale torn swap first
    fs, hpath = hadoop_fs(spark, path)
    retire = f"{path}__retire/{uuid.uuid4().hex}"
    journal = table_swap_journal(path)
    write_small_file(
        fs,
        hpath,
        journal,
        json.dumps({"stage": stage, "retire": retire}).encode("utf-8"),
    )
    if _test_after_journal is not None:
        _test_after_journal()
    if fs.exists(hpath(path)):
        fs.mkdirs(hpath(f"{path}__retire"))
        if not fs.rename(hpath(path), hpath(retire)):
            fs.delete(hpath(journal), False)
            raise RuntimeError(f"table swap: could not retire {path}")
    if _test_after_retire is not None:
        _test_after_retire()
    base = stage.rstrip("/").rsplit("/", 1)[-1]
    try:
        renamed = fs.rename(hpath(stage), hpath(path))
    except Exception:
        if fs.exists(hpath(stage)):
            raise  # a real failure: the journal stays for recovery
        renamed = False  # the source vanished: see below
    if not renamed:
        if fs.exists(hpath(stage)) or not fs.exists(hpath(path)):
            # Roll back — but never rename the retired copy onto an
            # existing table dir: LocalFileSystem would nest it inside.
            try:
                if not fs.exists(hpath(path)) and fs.exists(hpath(retire)):
                    fs.rename(hpath(retire), hpath(path))
            finally:
                fs.delete(hpath(journal), False)
            raise RuntimeError(
                f"table swap: could not publish {stage} as {path}"
            )
        # Our stage is gone and the table is there: a concurrent
        # recover_table_swap (an unleased reader's heal) rolled THIS swap
        # forward. The publish is done; only cleanup remains.
    elif fs.exists(hpath(f"{path}/{base}")):
        # The destination reappeared between retire and publish (an
        # external writer bypassing the lease): LocalFileSystem's rename
        # moved the stage INSIDE it. Undo and fail loudly rather than
        # serve a nested half-table.
        fs.delete(hpath(f"{path}/{base}"), True)
        fs.delete(hpath(journal), False)
        raise RuntimeError(
            f"table swap: {path} was recreated mid-swap by a writer "
            f"outside the lease — publish aborted; the previous table is "
            f"kept at {retire}"
        )
    if _test_after_publish is not None:
        _test_after_publish()
    fs.delete(hpath(journal), False)
    try:
        fs.delete(hpath(retire), True)
        # Drop the (now empty) __retire parent; non-recursive delete
        # refuses a non-empty dir, so a concurrent retire is never touched.
        fs.delete(hpath(f"{path}__retire"), False)
    except Exception:
        pass


def read_parquet_if_present(spark, path: str):
    """Parquet read with the NARROW missing-vs-broken distinction used by
    every bootstrap-or-merge decision (KeyedTable.exists, the SCD2 fold):
    returns the DataFrame, or None iff the table is MISSING/EMPTY
    (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA). Any other read failure
    (transient FS error, corrupt footer, permissions) RAISES — treating a
    blip as "missing" would let the caller's bootstrap-overwrite wipe the
    table down to one batch. One definition so a Spark upgrade that
    renames a condition is fixed in one place."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so the probe happens HERE, not later
        return df
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
