"""The one owner of every temp directory the package creates.

Two kinds, two protocols, nothing else (a guard test bans ``mkdtemp``,
``gettempdir`` and friends everywhere outside this module):

* ``stage_once(tag, sf_dir, build, finalize)`` — a layout SHARED across
  runs and processes, at the fixed per-(tag, sf) path `fixture_path`
  (``tfs-<tag>-<sf>``): query fixtures derived from a testdata table,
  which repeated query runs, the bench and the driver sweep reuse.
* ``scratch_dir(tag)`` — a dir PRIVATE to one run (streaming
  checkpoints, sink round trips, an MV root, a file-stream's symlink
  dir): ``tfs-eph-<tag>-<pid>-<tid>-<seq>``, unique per call and swept
  once its pid is dead and it is an hour old.

A fixed path wiped on entry serves neither: a second run of the same
query deletes files the first run's lazy frame has still to read. A
module-global "built already" dict serializes within ONE process only,
and a bare ``mkdtemp`` is never removed.

``stage_once`` is the shared commit protocol: build into a
pid/thread-unique scratch dir, commit via one atomic ``os.rename``, treat
a losing rename as "reuse the winner", and carry the builder's ledger
(counts the queries pin) in a marker file so every process — builder or
reuser — replays identical numbers.

Layouts whose artifacts embed ABSOLUTE file paths (skipping manifests
store the data files' paths) cannot be built in the scratch dir — the
rename would orphan every stored path — so ``finalize(dest)`` runs those
steps at the final path, after the rename, before the marker commit. The
marker is therefore the completion contract: a dest without it is a
crashed or mid-finalize build. To tell those apart WITHOUT waiting out a
staleness clock, the winner drops a ``_FINALIZING.json`` breadcrumb
(its pid) right after the commit rename: a marker-less dest whose
finalizing pid is alive is awaited; one whose pid is dead is a crashed
finalize and is replaced IMMEDIATELY — a crash heals in one retry
instead of repeating wasted-build/900 s-wait/RuntimeError cycles until
the dir ages past a 30-minute threshold.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time
from collections.abc import Callable

from twitter_flink_spark.commit import pid_alive, write_json

MARKER = "_STAGED.json"

#: the winner's pid breadcrumb, written between the commit rename and the
#: marker commit — liveness of this pid is what separates "mid-finalize,
#: await" from "crashed finalize, replace now"
FINALIZING = "_FINALIZING.json"

#: a marker-less dest with NO breadcrumb younger than this is assumed to
#: be inside the (microseconds-wide) rename→breadcrumb window, or a
#: concurrent legacy build — awaited; older ones are crashed builds
STALE_AFTER_S = 60

#: how long a losing builder waits for a LIVE winner's marker
WAIT_MARKER_S = 900


def fixture_path(tag: str, sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        f"tfs-{tag}-" + sf_dir.strip("/").replace("/", "-"),
    )


_EPH_TTL_S = 3600
_eph_swept = False


def scratch_dir(tag: str) -> str:
    """Ephemeral per-run scratch dir (streaming checkpoints, sink work
    dirs), created empty: ``tfs-eph-<tag>-<pid>-<tid>-<seq>`` under the
    system tempdir. Unlike `fixture_path` layouts — deterministic names,
    cross-process, kept on purpose — these are single-process garbage
    the moment the run ends. First call per process sweeps abandoned
    siblings the same way `commit.scratch_name` sweeps
    manifest scratch: only the ``tfs-eph-`` namespace (never the staged
    fixtures), only when the embedded pid is DEAD *and* the dir is over
    an hour old — a live concurrent bench or a legitimately slow drain
    can never lose its checkpoint."""
    import glob
    import itertools
    import re

    global _eph_swept
    tmp = tempfile.gettempdir()
    if not _eph_swept:
        _eph_swept = True
        for leftover in glob.glob(os.path.join(tmp, "tfs-eph-*")):
            try:
                m = re.search(r"-(\d+)-\d+-\d+$", leftover)
                if m is not None and pid_alive(int(m.group(1))):
                    continue
                if time.time() - os.lstat(leftover).st_mtime > _EPH_TTL_S:
                    shutil.rmtree(leftover, ignore_errors=True)
            except OSError:
                pass
    if not hasattr(scratch_dir, "_seq"):
        scratch_dir._seq = itertools.count()
    d = os.path.join(
        tmp,
        f"tfs-eph-{tag}-{os.getpid()}-{threading.get_ident()}"
        f"-{next(scratch_dir._seq)}",
    )
    os.makedirs(d, exist_ok=True)
    return d


def _read_marker(mark: str) -> dict | None:
    try:
        with open(mark) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _finalizing_alive(dest: str) -> bool:
    """True while a marker-less ``dest`` should still be awaited: its
    finalizing builder's pid is alive, or no breadcrumb exists yet and
    the dir is young enough to be inside the rename→breadcrumb window."""
    info = _read_marker(os.path.join(dest, FINALIZING))
    if info is not None:
        try:
            return pid_alive(int(info["pid"]))
        except (KeyError, TypeError, ValueError):
            return False
    try:
        return time.time() - os.path.getmtime(dest) < STALE_AFTER_S
    except OSError:
        return False


#: (tag) -> owning builder qualname: two DIFFERENT call sites sharing a
#: tag would silently serve one site's layout to the other (the r13 bug:
#: a new "lshidx" fixture collided with an older query's and handed it a
#: layout with no index subdir) — fail loudly at the second caller.
_TAG_OWNERS: dict[str, str] = {}

#: (tag) -> "built" | "awaited" | "cached": THIS process's per-tag
#: staging outcome. "built" = this process paid the build wall-clock
#: (even if another builder's commit won the rename race); "awaited" =
#: another process built while this one blocked on the marker (same
#: wall-clock charge, different CPU); "cached" = pure marker hit.
#: Costlier outcomes are sticky — a later cache hit never demotes them.
#: `bench.py` emits this next to the per-query map so an in-run fixture
#: rebuild can never masquerade as a query regression (the r14 doc-LSH
#: attribution gap: two queries sharing a staged tf-idf profile jumped
#: together and the artifact could not say whether the fixture was
#: rebuilt that run).
BUILD_OUTCOMES: dict[str, str] = {}

_OUTCOME_RANK = {"cached": 0, "awaited": 1, "built": 2}


def _record_outcome(tag: str, outcome: str) -> None:
    prev = BUILD_OUTCOMES.get(tag)
    if prev is None or _OUTCOME_RANK[outcome] > _OUTCOME_RANK[prev]:
        BUILD_OUTCOMES[tag] = outcome


def stage_once(
    tag: str,
    sf_dir: str,
    build: Callable[[str], dict | None],
    finalize: Callable[[str], dict | None] | None = None,
) -> tuple[str, dict]:
    """Ensure the layout ``build`` (+ optional ``finalize``) exists at
    the fixed per-(tag, sf) path exactly once across processes; returns
    (dest, ledger). ``build(scratch_dir)`` writes everything that is
    path-relocatable; ``finalize(dest)`` runs the steps that must see
    the final path (index builds whose manifests store absolute file
    paths, mutation sequences whose counts the ledger records). Both
    may return a dict merged into the committed ledger."""
    owner = f"{build.__module__}.{build.__qualname__}"
    prev = _TAG_OWNERS.setdefault(tag, owner)
    if prev != owner:
        raise ValueError(
            f"stage_once tag {tag!r} is owned by {prev}; {owner} must "
            "pick its own tag (one tag = one layout)"
        )
    dest = fixture_path(tag, sf_dir)
    mark = os.path.join(dest, MARKER)
    meta = _read_marker(mark)
    if meta is not None:
        _record_outcome(tag, "cached")
        return dest, meta
    if os.path.isdir(dest):
        # marker-less dest: await a LIVE finalizer BEFORE paying a
        # build; a dead one (crashed finalize) is replaced immediately
        if _finalizing_alive(dest):
            won = _wait_for_marker(mark)
            if won is not None:
                _record_outcome(tag, "awaited")
                return dest, won
        shutil.rmtree(dest, ignore_errors=True)
    tmp = f"{dest}.build-{os.getpid()}-{threading.get_ident()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    try:
        meta = dict(build(tmp) or {})
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # never leak the scratch
        raise
    _record_outcome(tag, "built")  # the build wall-clock is paid either way
    won = _read_marker(mark)
    if won is not None:  # a winner committed while we built
        shutil.rmtree(tmp, ignore_errors=True)
        return dest, won
    try:
        os.rename(tmp, dest)
    except OSError:
        # another builder won the rename; keep OUR completed scratch
        # until the outcome is known — it heals a crashed winner
        won = _wait_for_marker(mark)
        if won is not None:
            shutil.rmtree(tmp, ignore_errors=True)
            return dest, won
        if _finalizing_alive(dest):
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"staged fixture {dest} exists without {MARKER} and its "
                "builder is still alive past the marker wait; remove the "
                "directory and retry"
            )
        shutil.rmtree(dest, ignore_errors=True)
        try:
            os.rename(tmp, dest)  # publish OUR build over the crash
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"staged fixture {dest} kept reappearing without "
                f"{MARKER}; remove the directory and retry"
            ) from None
    write_json(os.path.join(dest, FINALIZING), {"pid": os.getpid()})
    if finalize is not None:
        # on a raise the breadcrumb stays with our (soon dead) pid: the
        # next caller replaces the torn dest immediately
        meta.update(finalize(dest) or {})
    write_json(mark, meta)
    try:
        os.remove(os.path.join(dest, FINALIZING))
    except OSError:
        pass
    return dest, meta


def _nullable(dt):
    """``dt`` with every field, element and map value nullable."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def schema_entry(df) -> dict:
    """The ledger entry a fixture build returns for the frame it wrote:
    the frame's schema made nullable, which is the schema a parquet read
    of the staged files infers. `staged_schema` gives it back, so a
    reader of the layout (a file-stream source needs its schema up
    front) never pays an inference job."""
    return {"schema": _nullable(df.schema).jsonValue()}


def staged_schema(ledger: dict):
    """The ``StructType`` a `schema_entry` recorded in ``ledger``."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(ledger["schema"])


def build_id(dest: str) -> str:
    """Which build of the staged layout at ``dest`` is committed (its
    marker's mtime). A layout staged FROM another one and storing its
    absolute file paths (a sidecar index) puts this in its tag: a
    rebuilt base then gets a fresh sidecar instead of one that indexes
    the dead files of the base's previous build."""
    return f"{os.stat(os.path.join(dest, MARKER)).st_mtime_ns:x}"


def _wait_for_marker(mark: str) -> dict | None:
    dest = os.path.dirname(mark)
    deadline = time.monotonic() + WAIT_MARKER_S
    while time.monotonic() < deadline:
        meta = _read_marker(mark)
        if meta is not None:
            return meta
        if not os.path.isdir(dest):
            return None  # winner's dir vanished: caller should not spin
        if not _finalizing_alive(dest):
            return None  # builder died mid-finalize: caller heals now
        time.sleep(0.5)
    return None
