"""Index transport: how a packed index reaches the search tasks.

Every ANN searcher ships its index through one of two carriers:

- **broadcast** (``broadcast_cached``): a packed index that fits the
  searcher's ``broadcast_threshold`` is collected once and broadcast,
  memoized on the artifact.  The memo keeps the size the gate compares,
  so each caller applies its OWN threshold to the same packed index.
- **node-local store** under ``SHM_ROOT``: on a single-node master
  index blobs are published once per artifact
  (``published`` + ``publish``), and per-node derived scan arrays once
  per node (``share`` / ``share_arrays``; ``shared_arrays`` maps a copy
  another task published without deriving it).  Tasks then map one read-only
  copy through the page cache instead of receiving index bytes through
  Arrow on every search.  On a multi-executor master a publish would
  land each blob on one node only, so the searchers keep their
  blob-shipping plans there.

Store rules:

- every entry is a directory under ``SHM_ROOT``; making a new entry
  first removes entries idle for more than ``TTL_S`` (mtime age), so
  abandoned entries — a dead driver's included — cannot pin tmpfs;
- the scan-state entry of a broadcast bundle is removed as soon as the
  driver releases the bundle's ``IndexBroadcast`` (``serve``), so a
  superseded bundle (every carried-forward append) frees its entry
  without waiting for the sweep;
- a searcher refreshes the mtime of the entry it reads (``touch``) on
  every search, plan-memo hits included, so only entries idle for the
  whole TTL are swept; a swept entry is republished under a new root;
- files are written to a private temp file and linked into place, so
  a reader sees a whole file or none, and a lost publish race leaves
  the first publisher's identical bytes;
- files read on every search are mapped once per process
  (``mmap_file``): a map must outlive every NumPy view taken on it, and
  it stays readable after its file is unlinked.  Derived scan state its
  owner memoizes (``share_arrays`` / ``shared_arrays``) is mapped for
  the owner's lifetime only, so a dropped index unmaps.

Runtime artifact params kept here (leading ``_``: never persisted, and
dropped by delete derivatives and by the append derivatives that
rebuild their table, which therefore repack and republish against their
own rows):

- ``_serving_bc`` — ``IndexBroadcast`` of the IVF-family, PQ or LSH
  packed index.  Valid for the artifact's lifetime; its size is compared
  with each caller's threshold, and a caller whose threshold admits an
  index no one has packed yet packs it then.  ``ivf.ivf_append`` carries
  it forward: when the predecessor is served and the new rows fit under
  the threshold that admitted it, the derivative's entry is the
  predecessor's bundle with the new rows appended per cluster, under a
  fresh broadcast and ``share_key``, so the next read packs nothing.
- ``_shard_bc`` — the same for the graph shard blobs; ``meta`` holds
  ``(token, sorted shard ids)``, the token keying the shard scan-state
  memo of this broadcast's blobs (``graph_ann._shard_state``).
- ``_packed_shm`` — ``(root, metadata DataFrame)`` of the published
  IVF-family packed blobs, or None when node-local publish is
  unavailable or failed (not retried).  A swept root is republished
  under a fresh root on next use.
- ``_shm_shards`` — ``(root, sorted shard ids)`` of the published graph
  shard blobs; same rule.
"""

from __future__ import annotations

import contextlib
import mmap
import os
import shutil
import tempfile
import time
import uuid
import weakref

import numpy as np
import pandas as pd
from pyspark.errors import PythonException

SHM_ROOT = "/dev/shm/vr_spark_shm"
TTL_S = 3600.0

# per-process read-only maps, keyed by file path
_MMAPS: dict = {}
_MMAPS_MAX = 65536
# roots where an in-task publish failed (tmpfs full): callers fall back
# to private per-task state instead of retrying the write every search
_FAILED: set = set()


class IndexBroadcast:
    """Memo entry of a packed-index broadcast.  ``size`` is the byte
    count the gate compares — a lower bound until the index is packed —
    ``bc`` the broadcast once some caller's threshold admitted it,
    ``threshold`` that caller's threshold, and ``meta`` driver-side data
    the packer returned with it."""

    __slots__ = ("size", "bc", "threshold", "meta", "__weakref__")

    def __init__(self, size: int) -> None:
        self.size = size
        self.bc = None
        self.threshold = None
        self.meta = None

    def serve(self, spark, value, threshold: int) -> "IndexBroadcast":
        """Broadcast ``value``, admitted under ``threshold``.  The
        node-local entry the workers publish its scan state under
        (``value.shm_entry``, when it has one) is removed once the
        driver releases this memo — a superseded bundle's entry would
        otherwise stay until the ``TTL_S`` sweep."""
        self.bc = spark.sparkContext.broadcast(value)
        self.threshold = threshold
        entry = getattr(value, "shm_entry", None)
        if entry is not None:
            weakref.finalize(
                self, shutil.rmtree, os.path.join(SHM_ROOT, entry), True
            )
        return self


def broadcast_cached(art, key: str, spark, threshold: int, pack, estimate=None):
    """The memoized broadcast of ``art``'s packed index under
    ``art.params[key]``, or None when it does not fit ``threshold``.

    ``estimate()`` gives the gate's byte count before any collect (one
    cheap job, run once per artifact); ``pack(threshold)`` collects the
    index and returns ``(value, nbytes, meta)``, or None when it found
    the index over ``threshold`` without finishing the collect."""
    memo = art.params.get(key)
    if memo is None:
        memo = art.params[key] = IndexBroadcast(estimate() if estimate else 0)
    if memo.size > threshold:
        return None
    if memo.bc is None:
        got = pack(threshold)
        if got is None:
            memo.size = threshold + 1
            return None
        value, nbytes, memo.meta = got
        memo.size = max(memo.size, nbytes)
        if memo.size > threshold:
            return None
        memo.serve(spark, value, threshold)
    return memo


def touch(root: str) -> bool:
    """Keep-alive: refresh ``root``'s mtime so the TTL sweep spares it.
    False when the entry is gone (swept)."""
    try:
        os.utime(root)
        return True
    except OSError:
        return False


def make_root(name: str) -> str:
    """``SHM_ROOT/name``, created if absent — after removing entries
    idle for more than ``TTL_S``.  Raises OSError."""
    root = os.path.join(SHM_ROOT, name)
    if os.path.isdir(root):
        return root
    os.makedirs(SHM_ROOT, exist_ok=True)
    now = time.time()
    for entry in os.listdir(SHM_ROOT):
        p = os.path.join(SHM_ROOT, entry)
        try:
            if now - os.path.getmtime(p) > TTL_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue
    os.makedirs(root, exist_ok=True)
    return root


def write_file(root: str, name: str, write) -> None:
    """Publish ``root/name``: ``write(fh)`` fills a private temp file
    that is then hard-linked into place.  The link fails when the name
    exists, so the first publisher wins and every reader maps the same
    file — every publisher writes identical bytes.  Raises OSError."""
    path = os.path.join(root, name)
    if os.path.exists(path):
        return
    fd, tmp = tempfile.mkstemp(dir=root, prefix=".pub-")
    try:
        with os.fdopen(fd, "wb") as fh:
            write(fh)
        with contextlib.suppress(FileExistsError):
            os.link(tmp, path)
    finally:
        with contextlib.suppress(OSError):
            os.unlink(tmp)


def _map(path: str) -> mmap.mmap:
    with open(path, "rb") as fh:
        return mmap.mmap(fh.fileno(), 0, prot=mmap.PROT_READ)


def mmap_file(path: str) -> mmap.mmap:
    """Read-only map of a published file, memoized per process."""
    mm = _MMAPS.get(path)
    if mm is None:
        if len(_MMAPS) >= _MMAPS_MAX:
            _MMAPS.clear()
        mm = _MMAPS[path] = _map(path)
    return mm


def _write_arrays(fh, arrays) -> None:
    for a in arrays:
        fh.write(memoryview(np.ascontiguousarray(a)).cast("B"))


def share(root: str, name: str, build):
    """Map of ``root/name``, publishing the arrays ``build()`` returns
    (concatenated raw bytes) when the file is absent.  For state every
    task derives identically, so whichever task publishes serves the
    whole node.  None when publishing under ``root`` failed: the caller
    keeps private state."""
    path = os.path.join(root, name)
    mm = _MMAPS.get(path)
    if mm is not None or root in _FAILED:
        return mm
    try:
        if not os.path.exists(path):
            arrays = build()
            write_file(root, name, lambda fh: _write_arrays(fh, arrays))
        return mmap_file(path)
    except (OSError, ValueError):
        _FAILED.add(root)
        return None


def share_arrays(entry: str, name: str, arrays: list):
    """``arrays`` (None entries allowed) replaced by read-only views of
    one node-local copy under ``SHM_ROOT/entry/name``, or None when the
    store is unavailable.  The map is not memoized: it lives exactly as
    long as the caller keeps the views."""
    if not os.path.isdir("/dev/shm"):
        return None
    try:
        root = make_root(entry)
        write_file(
            root, name, lambda fh: _write_arrays(fh, [a for a in arrays if a is not None])
        )
        mm = _map(os.path.join(root, name))
    except (OSError, ValueError):
        return None
    return _views(mm, [None if a is None else (a.dtype, a.shape) for a in arrays])


def shared_arrays(entry: str, name: str, layout):
    """Read-only views of the arrays ``share_arrays`` published under
    ``SHM_ROOT/entry/name``, or None when none are published.
    ``layout(mm)`` gives, from the mapped bytes, each array's
    ``(dtype, shape)`` in publish order (None for an absent one).  Same
    lifetime rule as ``share_arrays``."""
    try:
        mm = _map(os.path.join(SHM_ROOT, entry, name))
    except (OSError, ValueError):
        return None
    return _views(mm, layout(mm))


def _views(mm, layout) -> list:
    out, off = [], 0
    for spec in layout:
        if spec is None:
            out.append(None)
            continue
        dt, shape = np.dtype(spec[0]), spec[1]
        count = int(np.prod(shape))
        out.append(np.frombuffer(mm, dtype=dt, count=count, offset=off).reshape(shape))
        off += count * dt.itemsize
    return out


def publish(df, root: str) -> list[str]:
    """One distributed pass writing every row of ``df`` — a string key,
    then binary columns — to ``root/<key>.bin`` (the binary columns
    concatenated).  Returns the keys written."""

    def pub(batches):
        for pdf in batches:
            for key, *parts in zip(*(pdf[c] for c in pdf.columns)):
                write_file(root, f"{key}.bin", lambda fh: fh.writelines(parts))
            yield pd.DataFrame({"key": pdf.iloc[:, 0]})

    return [r["key"] for r in df.mapInPandas(pub, schema="key string").collect()]


def published(art, key: str, spark, prefix: str, fill):
    """The artifact's node-local copy, memoized as ``art.params[key] =
    (root, payload)``: ``fill(root)`` publishes into a fresh entry and
    returns the payload.  A live root is touched; a swept one is
    republished under a new root.  None — remembered — when node-local
    publish is unavailable or failed: on the driver (``OSError``) or in
    the executors, whose failed writes fail the publish job
    (``PythonException``)."""
    got = art.params.get(key, ())
    if got is None or (got and touch(got[0])):
        return got
    got = root = None
    # only a single-node master's tasks all see this node's /dev/shm
    if spark.sparkContext.master.startswith("local") and os.path.isdir("/dev/shm"):
        try:
            root = make_root(f"{prefix}-{uuid.uuid4().hex}")
            got = (root, fill(root))
        except (OSError, PythonException):
            if root is not None:
                shutil.rmtree(root, ignore_errors=True)
    art.params[key] = got
    return got
