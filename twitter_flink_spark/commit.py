"""The storage commit protocols: every stage-and-rename in one place.

Indexes, manifests, MVs and logs publish through a few rename-based
commits; each has ONE implementation here:

- **pointer swap** (`replace_dir`, `commit_swap`): a complete generation
  is renamed to a hidden sibling and ``dest`` becomes a symlink renamed
  over in one atomic step; superseded generations are swept after a
  reader grace (`sweep_gens`) unless a long scan pins them
  (`pin_generation`). `rm_committed` and `link_committed` remove and
  copy such a dest without stranding its generation;
  `sweep_partitions` puts back a partition a crashed rewrite left
  aside.
- **staged append** (`append_files`): one Spark write into a
  pid/thread-unique stage dir, then a rename per file, phase by phase —
  readers see whole files or nothing, and the phase order is the commit
  order (LSH band rows before coverage markers).
- **partition publish** (`publish_partitions`): a staged rewrite of some
  partitions, each swapped in (or removed when it staged empty).
- **new generation** (`new_generation`): a scratch generation of a flat
  table with the untouched files hardlinked in, for a compactor to add
  its merged files to and `replace_dir` into place.
- **table dir swap** (`swap_table_dir`): a rewritten table dir replaces
  the live one, its committed manifests hardlinked across first.
- **atomic JSON** (`write_json`): markers, ledgers and manifests.

Scratch names embed the writer's pid and thread (`scratch_name`), so two
processes committing one dest never write into each other's scratch, and
crashed writers leave uniquely-named litter that is swept only once its
pid is dead (`sweep_scratch`; an aside copy whose dest is missing is
renamed back instead). On an object store (no symlinks, no atomic dir rename) the
pointer maps to immutable generation prefixes plus a tiny pointer
manifest updated by conditional put — the layouts port unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: a superseded generation outlives its pointer this long, so a reader
#: that resolved the pointer just before a commit finishes its scan
GEN_GRACE_S = 120


def pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM etc.: alive, just not ours
    return True


def scratch_name(dest: str, kind: str) -> str:
    """Pid/thread-unique scratch sibling for ``dest`` (`.tmp-…`/`.gc-…`):
    two processes maintaining one shared manifest must never write into
    the same scratch dir. Abandoned siblings are swept first
    (`sweep_scratch`)."""
    sweep_scratch(dest)
    return f"{dest}.{kind}-{os.getpid()}-{threading.get_ident()}"


def sweep_scratch(dest: str) -> None:
    """Sweep the scratch siblings of ``dest`` that crashed committers
    left. Litter is swept only when it is unambiguously abandoned — the
    embedded pid is DEAD *and* the dir is >1 h old — so a legitimately
    long-running commit (a huge manifest write) can never lose its live
    scratch to an unrelated committer. A ``.gc-`` aside while ``dest``
    is missing is the last committed generation (its writer died
    between moving a real-dir dest aside and the pointer rename): it is
    renamed back to ``dest``, not deleted — at once when it is this
    thread's own (a thread runs one commit at a time, so its aside from
    an earlier call is abandoned)."""
    me = (os.getpid(), threading.get_ident())
    for leftover in glob.glob(f"{dest}.tmp-*") + glob.glob(f"{dest}.gc-*"):
        try:
            m = re.search(r"\.(?:tmp|gc)-(\d+)-(\d+)", leftover)
            writer = m and (int(m.group(1)), int(m.group(2)))
            restore = leftover.startswith(f"{dest}.gc-") and not (
                os.path.lexists(dest)
            )
            if restore and writer == me:
                pass  # this thread's aside from an earlier call
            elif writer and pid_alive(writer[0]):
                continue
            elif time.time() - os.lstat(leftover).st_mtime <= 3600:
                continue
            if restore:
                os.rename(leftover, dest)
            else:
                shutil.rmtree(leftover, ignore_errors=True)
        except OSError:
            pass


_SCRATCH_RE = re.compile(r"(.+)\.(?:tmp|gc)-\d+-\d+")


def sweep_partitions(root: str) -> None:
    """`sweep_scratch` for every partition of the partitioned dir
    ``root`` that has scratch siblings. A partition rewrite (a shard
    `commit_swap`, `publish_partitions`) that died between moving a
    real-dir partition aside and its pointer rename left the partition
    missing while its parent manifest still lists it: call this before
    listing the partitions, so the aside is back in place."""
    try:
        entries = os.listdir(root)
    except OSError:
        return
    for name in sorted(
        {m.group(1) for m in map(_SCRATCH_RE.fullmatch, entries) if m}
    ):
        sweep_scratch(os.path.join(root, name))


def commit_swap(df: DataFrame, dest: str, partition_by=()) -> None:
    """Atomically replace ``dest`` with ``df``'s rows (tmp write, rename
    swap, old generation aside then removed): one file, or with
    ``partition_by`` one dir per value of those columns, written as
    ``df`` is partitioned. Same crash-safe protocol as the MV manifests:
    a reader sees the old or the new manifest, never a mix, and
    stranded tmp/gc dirs are garbage a later commit ignores.
    The scratch names are pid/thread-unique so two processes committing
    the same manifest (a driver sweep and a bench run maintaining one
    shared layout) can never write into each other's tmp dir; if both
    race the final rename, the retry loop makes last-committer-win —
    each candidate is a COMPLETE generation, so readers are safe under
    either outcome."""
    tmp = scratch_name(dest, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    if partition_by:
        writer = df.write.partitionBy(*partition_by)
    else:
        writer = df.coalesce(1).write
    writer.mode("overwrite").parquet(tmp)
    replace_dir(tmp, dest)


def sweep_gens(dest: str) -> None:
    """GC superseded generations of ``dest``: hidden gen dirs no longer
    reachable through the pointer are removed once older than
    ``GEN_GRACE_S`` (a reader that resolved the pointer just before a
    commit can still be mid-scan of the old generation) — unless a LIVE
    ``pin_generation`` breadcrumb holds them; stranded ``.lnk`` files
    from crashed commits and dead-pid pins age out the same way."""
    d, base = os.path.split(dest)
    current = os.path.realpath(dest) if os.path.islink(dest) else None
    entries = glob.glob(os.path.join(d or ".", f".{base}.gen-*"))
    pinned: set[str] = set()
    for g in entries:
        m = re.match(r"^(.+\.gen-[^./]+)\.pin-(\d+)-\d+$", g)
        if m is None:
            continue
        if pid_alive(int(m.group(2))):
            pinned.add(m.group(1))
        else:
            try:
                os.remove(g)  # pin whose reader died: litter
            except OSError:
                pass
    for g in entries:
        if ".pin-" in g:
            continue
        try:
            age = time.time() - os.lstat(g).st_mtime
            if age <= GEN_GRACE_S:
                continue
            if os.path.islink(g):
                os.unlink(g)
            elif (
                g not in pinned
                and (current is None or os.path.realpath(g) != current)
            ):
                shutil.rmtree(g, ignore_errors=True)
        except OSError:
            pass


@contextmanager
def pin_generation(dest: str):
    """Hold the CURRENT generation of a committed dest alive for the
    duration of a long scan: yields a stable path to read (the resolved
    generation for a pointer dest; the dest itself for a real dir that
    no commit has published yet) and drops a ``.pin-<pid>-<tid>``
    breadcrumb beside the generation so ``sweep_gens`` skips it past
    the reader grace while this pid lives. Readers that finish inside ``GEN_GRACE_S`` don't
    need this; it exists for scans that legitimately outlive it — a
    full-manifest audit at millions of files, a straggling executor —
    where the post-grace sweep could otherwise delete the generation
    mid-read. Concurrent commits keep publishing; the pinned reader
    just keeps its own consistent snapshot (exactly the snapshot-
    isolation posture a table format's pinned-version read gives)."""
    if not os.path.islink(dest):
        yield dest
        return
    gen = os.path.realpath(dest)
    pin = f"{gen}.pin-{os.getpid()}-{threading.get_ident()}"
    open(pin, "w").close()
    try:
        yield gen
    finally:
        try:
            os.remove(pin)
        except OSError:
            pass


def rm_committed(path: str) -> None:
    """Remove a committed dest that may be a pointer symlink (the
    ``replace_dir`` protocol) or a real dir (a Spark write's output).
    ``shutil.rmtree(link, ignore_errors=True)`` silently no-ops on a
    symlink, which would leak both the pointer and its generation."""
    try:
        if os.path.islink(path):
            target = os.path.realpath(path)
            os.unlink(path)
            shutil.rmtree(target, ignore_errors=True)
        else:
            shutil.rmtree(path, ignore_errors=True)
    except OSError:
        pass


def link_committed(src: str, dst: str) -> None:
    """Hardlink a committed manifest from ``src`` to ``dst`` — the
    carry-across of a table-dir swap (`swap_table_dir`), zero bytes
    copied (manifest files are immutable). A committed dest is a
    pointer SYMLINK whose hidden generation dir lives beside it
    (``replace_dir``): the generation is linked first, then a pointer
    with the same relative target; pointers nested inside (rewritten
    partitions) stay pointers. A file (a breadcrumb) is linked as it
    is."""
    if os.path.islink(src):
        gen_name = os.readlink(src)
        if not os.path.isabs(gen_name):
            shutil.copytree(
                os.path.join(os.path.dirname(src), gen_name),
                os.path.join(os.path.dirname(dst), gen_name),
                symlinks=True,
                copy_function=os.link,
            )
        os.symlink(gen_name, dst)
    else:
        os.link(src, dst)


def replace_dir(tmp: str, dest: str) -> None:
    """Publish the COMPLETE generation at ``tmp`` as ``dest`` via a
    POINTER SWAP: the generation is renamed to a hidden uniquely-named
    sibling (``.{name}.gen-<pid>-<nonce>`` — the leading dot keeps
    Spark's input listing blind to it) and ``dest`` becomes a symlink
    renamed over in ONE atomic step. A reader opening ``dest`` therefore
    sees the old or the new generation at every instant — there is no
    between-renames window where ``dest`` does not exist (the
    cross-process flake the old rename-aside dance allowed). Concurrent
    commits are last-committer-wins: each writes its own generation and
    the final pointer rename serializes in the kernel. A dest that is
    still a real dir (the first commit over a dir a Spark write created:
    LSH segments, IVF cells, the CDF changelog, the counts WAL) is
    renamed aside first — that first commit keeps a rename-aside window;
    every commit after it is atomic. The aside copy is removed only
    after the pointer lands, and renamed back if every attempt fails, so
    a failed commit leaves ``dest`` as it was. Superseded generations are
    swept after a reader grace period (``sweep_gens``)."""
    d, base = os.path.split(dest)
    gen = os.path.join(
        d or ".", f".{base}.gen-{os.getpid()}-{time.monotonic_ns():x}"
    )
    os.rename(tmp, gen)
    lnk = f"{gen}.lnk"
    try:
        os.remove(lnk)
    except OSError:
        pass
    os.symlink(os.path.basename(gen), lnk)
    old = None
    for _ in range(5):
        try:
            os.rename(lnk, dest)  # atomic over absent dest or a symlink
        except OSError:
            # dest is a real dir: move it aside and retry
            real = os.path.isdir(dest) and not os.path.islink(dest)
            if old is None and real:
                aside = scratch_name(dest, "gc")
                shutil.rmtree(aside, ignore_errors=True)
                try:
                    os.rename(dest, aside)
                    old = aside
                except OSError:
                    pass  # another committer moved it first
            continue
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        sweep_gens(dest)
        return
    if old is not None and not os.path.lexists(dest):
        os.rename(old, dest)  # the failed commit leaves dest as it was
    try:
        os.remove(lnk)
    except OSError:
        pass
    shutil.rmtree(gen, ignore_errors=True)
    raise RuntimeError(f"commit to {dest} lost 5 swap races")


def has_parquet(path: str) -> bool:
    """Whether ``path`` holds a parquet file, at any partition depth. A
    zero-row append still creates its dir (holding only ``_SUCCESS``),
    and Spark cannot infer a schema from such a dir: guard every read
    of an append-grown dir with this, not with ``os.path.isdir``."""
    return any(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def observed_count(obs) -> int:
    """Count from an `Observation` attached to a maintenance write,
    robust to the ZERO-ROW case: AQE's empty-relation propagation can
    replace the whole observed subtree with an empty LocalTableScan (an
    empty other side of a join above it), so the CollectMetrics node
    never executes, the metrics row has no fields and ``obs.get`` fails
    in PythonSQLUtils.toPyRow — which happens exactly when zero rows
    flowed through the write. That case alone is mapped to 0; a present
    metrics row is authoritative and any other failure propagates."""
    if obs._jo.getRow().size() == 0:  # waits for the action, like get
        return 0
    return int(obs.get["n"] or 0)


def append_files(
    phases: list[tuple[str, DataFrame]], dest: str, seg=None
) -> None:
    """Append each ``(label, df)`` phase's rows to ``dest`` — the
    multi-writer append protocol of the LSH and IVF indexes. ONE staged
    Spark write (pid/thread-unique stage dir) partitioned by phase, then
    a rename per file, every file of one phase before any file of the
    next: each rename is atomic, so readers see whole files or nothing,
    and the phase order is the commit order — a crash mid-rename can
    leave an earlier phase partly landed, never a later phase ahead of
    it (LSH band rows before coverage markers). One write for all phases
    is HALF the Spark jobs of a write per phase (the r15
    streaming-maintenance regression was job-submission bound); the
    phase column partitions the stage only and never reaches ``dest``'s
    files. Files land as ``{label}-{uuid}-{part file}``; a crash strands
    only uniquely-named stage litter, which the same writer's next
    append clears.

    ``seg`` (a Column) targets a SEGMENTED layout: rows stage
    partitioned by it too, hash-repartitioned on it first (so an append
    adds ~one file per touched segment instead of tasks x segments small
    files), and each staged file renames into its ``seg=N/`` subdir. The
    seg exchange carries NO pinned partition count: AQE coalesces a
    micro-batch-sized append down to a task or two (each seg still
    hashes to exactly one task, so the file count stays = touched
    segments) while a corpus-sized build spreads across the session's
    shuffle parallelism — a pinned ``repartition(nseg, seg)`` forced
    ``nseg`` near-empty tasks per append, pure scheduling overhead at
    micro-batch grain (the r15 streaming-maintenance regression).
    Without ``seg`` the append is flat (the IVF tombstone files)."""
    tag = uuid.uuid4().hex[:8]
    stage = (
        f"{dest}.stage-{phases[0][0]}-{os.getpid()}-{threading.get_ident()}"
    )
    shutil.rmtree(stage, ignore_errors=True)
    staged = None
    for i, (_, df) in enumerate(phases):
        df = df.withColumn("__phase", F.lit(i))
        staged = df if staged is None else staged.unionByName(df)
    part_cols = ["__phase"]
    if seg is not None:
        staged = staged.withColumn("seg", seg).repartition(F.col("seg"))
        part_cols.append("seg")
    staged.write.partitionBy(*part_cols).mode("overwrite").parquet(stage)
    for i, (label, _) in enumerate(phases):
        phase_dir = os.path.join(stage, f"__phase={i}")
        for d, _, files in sorted(os.walk(phase_dir)):
            to = os.path.normpath(
                os.path.join(dest, os.path.relpath(d, phase_dir))
            )
            parts = [f for f in sorted(files) if f.endswith(".parquet")]
            if parts:
                os.makedirs(to, exist_ok=True)
            for f in parts:
                os.rename(
                    os.path.join(d, f), os.path.join(to, f"{label}-{tag}-{f}")
                )
    shutil.rmtree(stage, ignore_errors=True)


def publish_partitions(df: DataFrame, dest: str, col: str, values) -> int:
    """Rewrite the ``col=<v>`` partitions of ``dest`` for ``values`` with
    ``df``'s rows — the rewrite of a few touched partitions of a
    partitioned table (LSH segments, IVF cells): ONE staged write
    partitioned by ``col`` (as ``df`` is partitioned), then each staged
    partition swaps in (`replace_dir` per partition), and the committed
    partition of every ``v`` that staged no rows is removed. Each swap
    is atomic on its own; a crash between two leaves some partitions
    rewritten and the rest untouched. Returns the number of partitions
    that staged rows."""
    stage = scratch_name(dest, "tmp")
    shutil.rmtree(stage, ignore_errors=True)
    df.write.partitionBy(col).mode("overwrite").parquet(stage)
    survivors = 0
    for v in values:
        src = os.path.join(stage, f"{col}={v}")
        dst = os.path.join(dest, f"{col}={v}")
        if os.path.isdir(src):
            replace_dir(src, dst)
            survivors += 1
        else:
            rm_committed(dst)  # every row of the partition was deleted
    shutil.rmtree(stage, ignore_errors=True)
    return survivors


def new_generation(root: str, keep) -> str:
    """A fresh scratch generation of the flat table at ``root`` holding
    hardlinks of the ``keep`` files under their basenames (zero bytes
    copied — the object-store analogue is reusing the same immutable
    object keys in a new manifest). The caller renames its rewritten
    files in and publishes with ``replace_dir(gen, root)``."""
    gen = scratch_name(root, "tmp")
    shutil.rmtree(gen, ignore_errors=True)
    os.makedirs(gen, exist_ok=True)
    for p in keep:
        os.link(p, os.path.join(gen, os.path.basename(p)))
    return gen


def swap_table_dir(tmp: str, dest: str, carry) -> None:
    """Replace the table dir ``dest`` by the rewritten ``tmp`` — the
    compactor's dir-level swap. Each committed manifest named in
    ``carry`` is first hardlinked into ``tmp`` (`link_committed`), then
    the live dir renames aside, ``tmp`` takes its place, and the old dir
    is removed. Every carried manifest is in ``dest`` or ``tmp`` at
    every rename: a crash before the second rename leaves ``dest``
    missing and its aside holding the old table WITH its manifests,
    which `sweep_scratch` renames back; a crash after it leaves the new
    table complete."""
    for name in carry:
        link_committed(os.path.join(dest, name), os.path.join(tmp, name))
    gc = scratch_name(dest, "gc")
    shutil.rmtree(gc, ignore_errors=True)
    os.rename(dest, gc)
    os.rename(tmp, dest)
    shutil.rmtree(gc, ignore_errors=True)


def write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: a reader sees the old
    file or the whole new one, never a partial write. The tmp name is
    unique per pid, thread and call, so concurrent writers of one path
    never truncate each other's tmp file; the last rename wins."""
    tmp = (
        f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
        f"-{uuid.uuid4().hex[:8]}"
    )
    try:
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise
