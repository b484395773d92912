"""The lakehouse table format's commit protocol: its one implementation.

Both sides of the on-disk format go through this module: the batch
writers and readers in ``operators/lakehouse.py`` and the streaming
source and sink in ``sources/lakefeed.py``. It imports no pyspark, so
lakefeed's reader and writer objects can carry it into Spark's
streaming-runner and executor Python processes, where the package is
not importable; ``cuny_courses_spark/__init__.py`` registers it for
pickle-by-value.

Layout under ``<table_dir>/manifest/``:

  v{N}.json       manifest LIST of snapshot N: ``{group: group file}``
                  plus snapshot-level schema, props, commit meta,
                  ``touched`` and ``ts``
  mg-<sha1>.json  content-addressed bucket GROUP: the files, stats,
                  added-versions and deletion vectors of one hash bucket
                  (``b<N>``) or of the unbucketed files (``x``)
  _head           ``{"version": N}``, a HEAD hint that may lag, never lead

A snapshot is published first-committer-wins (``publish_json``): the
list is written to a pid+uuid temp and fsynced, link(2) claims the final
name (EEXIST = another writer committed that version first), and a
directory fsync makes the claim survive a crash. On an object store the
link + fsync pair is the substitution point: a conditional PUT
(``If-None-Match: *``) gives the same fail-if-exists contract.

Readers take an ``opener`` (default ``open``) so a caller can count its
metadata reads through its own seam.

Derived directories (amplified corpora, bucketed mirrors, partitioned
copies) are built once per content signature and published whole by
``publish_dir``: a private temp directory, then rename(2).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
import uuid
from pathlib import Path
from typing import Callable, Iterable


def manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "manifest")


def manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, "manifest", f"v{version}.json")


def head_path(table_dir: str) -> str:
    return os.path.join(table_dir, "manifest", "_head")


def bucket_of_path(p: str) -> int:
    """Hash bucket of a data or DV file, from its ``_b=N`` path segment."""
    return int(p.split("_b=")[1].split(os.sep)[0])


def group_key(p: str) -> str:
    """Manifest-tree group of a data file: ``b<bucket>`` for bucketed
    files, else the catch-all ``x`` group."""
    if "_b=" in p:
        return f"b{p.split('_b=')[1].split(os.sep)[0]}"
    return "x"


def applicable_dvs(doc: dict, f: str) -> list[dict]:
    """The deletion-vector entries (``{"v", "path"}``, sorted by path)
    that apply to data file ``f``: those of its bucket committed AFTER
    the file was added. The added-version guard is what makes key-DVs
    behave like Delta's per-file positional bitmaps: a delete erases
    the key from files that existed when it ran, while a row
    re-inserted by a later append lives in a younger file and survives.
    Files without added-version metadata default to 0 (every DV
    applies), the sound direction for hand-built manifests."""
    dvs = doc.get("dvs")
    if not dvs:
        return []
    av = doc.get("added", {}).get(f, 0)
    return sorted(
        (d for d in dvs.get(str(bucket_of_path(f)), []) if d["v"] > av),
        key=lambda d: d["path"],
    )


# -- writing ---------------------------------------------------------------


def _stage(path: str, payload: str) -> str:
    """Write ``payload`` to a fsynced temp next to ``path``; return the
    temp's name. pid + uuid: pid alone collides for two committers of
    one version in the same process (a threaded driver), and the
    winner's unlink would then delete the loser's temp mid-flight."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp.{os.getpid()}.{uuid.uuid4().hex[:6]}")
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def _fsync_dir(d: str) -> None:
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def publish_json(path: str, doc: dict) -> None:
    """Publish ``doc`` at ``path`` atomically and exclusively: temp
    write, fsync, link(2) claim, directory fsync, unlink. Raises
    FileExistsError when ``path`` already exists (the race is lost).
    Without the directory fsync a committed version could vanish on
    power loss despite the data fsync."""
    tmp = _stage(path, json.dumps(doc, sort_keys=True))
    try:
        os.link(tmp, path)
        _fsync_dir(os.path.dirname(path))
    finally:
        os.unlink(tmp)


def replace_json(path: str, doc: dict) -> None:
    """Durable last-writer-wins overwrite (branch refs): temp write,
    fsync, rename(2), then the same directory fsync as a claim, so the
    new ref survives a crash instead of reverting to the old one."""
    os.replace(_stage(path, json.dumps(doc, sort_keys=True)), path)
    _fsync_dir(os.path.dirname(path))


def write_group(mdir: str, content: dict) -> tuple[str, bool]:
    """Write one content-addressed bucket-group manifest; return
    ``(filename, created)``. The name is the sha1 of the canonical
    JSON, so identical bucket content in two snapshots is one file, and
    EEXIST only means another writer published the same content. No
    directory fsync here: the list publish that references the group
    fsyncs the same directory afterwards."""
    payload = json.dumps(content, sort_keys=True)
    name = f"mg-{hashlib.sha1(payload.encode()).hexdigest()}.json"
    final = os.path.join(mdir, name)
    if os.path.exists(final):
        return name, False
    tmp = _stage(final, payload)
    try:
        os.link(tmp, final)
        created = True
    except FileExistsError:
        created = False
    finally:
        os.unlink(tmp)
    return name, created


def advance_head(table_dir: str, version: int) -> None:
    """Advance the ``_head`` hint to ``version`` unless it already
    names a version ≥ it. Written after the list publish, so it can only
    lag the true head; ``os.replace`` means readers never see a torn
    hint. A stale or lost hint costs readers forward probes, never a
    wrong answer, so it gets no directory fsync."""
    hp = head_path(table_dir)
    try:
        with open(hp) as f:
            if json.load(f).get("version", 0) >= version:
                return
    except (OSError, ValueError):
        pass  # absent or torn-by-crash hint: rewrite it
    os.replace(_stage(hp, json.dumps({"version": version})), hp)


def stage_snapshot(
    table_dir: str,
    version: int,
    files: list[str],
    *,
    stats: dict | None = None,
    added: dict | None = None,
    dvs: dict | None = None,
    parent_groups: dict | None = None,
    meta: dict | None = None,
    props: dict | None = None,
    schema: dict | None = None,
) -> tuple[dict, int]:
    """Write the group files of snapshot ``version`` and assemble its
    manifest list; return ``(list doc, groups created)``.

    Files are sharded by bucket group; a bucket with DVs but no files
    (a delete against reused files) still gets a group so its sidecars
    travel in the tree. ``parent_groups`` is the parent list's group
    map (``{}`` for a table's first snapshot): ``touched`` is then the
    exact set of groups whose content-hash name changed. ``None`` (a
    flat or unreadable parent) records no ``touched``, which later
    writers treat as touching everything."""
    mdir = manifest_dir(table_dir)
    os.makedirs(mdir, exist_ok=True)
    dvs_clean = {
        b: sorted(es, key=lambda e: e["path"])
        for b, es in (dvs or {}).items()
        if es
    }
    by_group: dict[str, list[str]] = {}
    for p in files:
        by_group.setdefault(group_key(p), []).append(p)
    for b in dvs_clean:
        by_group.setdefault(f"b{b}", [])
    groups: dict[str, str] = {}
    created = 0
    for g in sorted(by_group):
        gfiles = sorted(by_group[g])
        content: dict = {"files": gfiles}
        gstats = {p: stats[p] for p in gfiles if p in stats} if stats else {}
        if gstats:
            content["stats"] = gstats
        gadded = {p: added[p] for p in gfiles if p in added} if added else {}
        if gadded:
            content["added"] = gadded
        if g.startswith("b") and g[1:] in dvs_clean:
            content["dvs"] = dvs_clean[g[1:]]
        groups[g], new = write_group(mdir, content)
        created += int(new)
    touched = None
    if parent_groups is not None:
        touched = sorted(
            k
            for k in set(groups) | set(parent_groups)
            if groups.get(k) != parent_groups.get(k)
        )
    return list_doc(version, groups, touched, meta, props, schema), created


def list_doc(
    version: int,
    groups: dict,
    touched: list[str] | None,
    meta: dict | None,
    props: dict | None,
    schema: dict | None,
) -> dict:
    """A manifest list. ``ts`` is the commit wall-clock that AS-OF-
    timestamp time travel resolves against; it is never part of content
    addressing (groups carry no ts)."""
    doc: dict = {"version": version, "groups": groups, "ts": time.time()}
    if touched is not None:
        doc["touched"] = touched
    if meta is not None:
        doc["meta"] = meta
    if props:
        doc["props"] = props
    if schema is not None:
        doc["schema"] = schema
    return doc


def publish_snapshot(table_dir: str, doc: dict) -> None:
    """Claim the manifest list ``doc`` at its version, then advance the
    head hint. Raises FileExistsError when the race is lost."""
    publish_json(manifest_path(table_dir, doc["version"]), doc)
    advance_head(table_dir, doc["version"])


# -- reading ---------------------------------------------------------------


def read_json(path: str, opener=open) -> dict:
    with opener(path) as f:
        return json.load(f)


def read_list(table_dir: str, version: int, opener=open) -> dict:
    """The raw manifest list of ``version``: group references, not the
    resolved file inventory."""
    return read_json(manifest_path(table_dir, version), opener)


def resolve_list(table_dir: str, doc: dict, opener=open) -> dict:
    """A manifest list → the flat snapshot shape readers consume
    (files / stats / added / dvs / schema / props), loading one group
    file per occupied bucket. Flat pre-tree manifests pass through.
    The group map rides along under ``_groups`` (never persisted), so
    callers that can skip identical buckets see the sharing."""
    if "groups" not in doc:
        return doc
    mdir = manifest_dir(table_dir)
    out = {k: v for k, v in doc.items() if k != "groups"}
    files: list[str] = []
    stats: dict = {}
    added: dict = {}
    dvs: dict = {}
    for g in sorted(doc["groups"]):
        gd = read_json(os.path.join(mdir, doc["groups"][g]), opener)
        files.extend(gd.get("files", []))
        stats.update(gd.get("stats", {}))
        added.update(gd.get("added", {}))
        if gd.get("dvs") and g.startswith("b"):
            dvs[g[1:]] = gd["dvs"]
    out["files"] = sorted(files)
    if stats:
        out["stats"] = stats
    if added:
        out["added"] = added
    if dvs:
        out["dvs"] = dvs
    out["_groups"] = dict(doc["groups"])
    return out


def resolve(table_dir: str, version: int, opener=open) -> dict:
    """Snapshot ``version`` in the flat reader shape."""
    return resolve_list(table_dir, read_list(table_dir, version, opener), opener)


def head_version(table_dir: str, opener=open) -> int:
    """HEAD from the ``_head`` hint plus a forward probe of ``v+1,
    v+2, …`` (stat calls, not opens) that absorbs hint lag. Versions
    commit sequentially, so the first missing one ends the probe.
    Without a usable hint it lists the manifest directory once.
    Read-only: it never rewrites the hint. Returns 0 when the table has
    no snapshot."""
    v = 0
    try:
        hint = read_json(head_path(table_dir), opener).get("version", 0)
        if hint > 0 and os.path.exists(manifest_path(table_dir, hint)):
            v = hint
    except (OSError, ValueError):
        pass
    if v == 0:
        try:
            names = os.listdir(manifest_dir(table_dir))
        except FileNotFoundError:
            return 0
        v = max(
            (int(f[1:-5]) for f in names if f.startswith("v") and f.endswith(".json")),
            default=0,
        )
        if v == 0:
            return 0
    while os.path.exists(manifest_path(table_dir, v + 1)):
        v += 1
    return v


# -- derived directories ---------------------------------------------------


def content_signature(tag: str, src: str, files: Iterable[str | os.PathLike]) -> str:
    """Content identity of ``files`` under ``src`` (name, size, mtime per
    file), not just the path: a regenerated source must never serve a
    stale derived copy. ``tag`` names the derivation and its format."""
    sig = hashlib.md5(f"{tag}:{src}".encode())
    for f in files:
        st = os.stat(f)
        sig.update(f"{Path(f).name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return sig.hexdigest()[:12]


def source_key(src: str) -> str:
    """Short hash of ``src``'s absolute path, for family names: copies
    derived from two source directories never evict each other."""
    return hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:8]


def _builder_alive(tmp: Path) -> bool:
    # Temp dirs are named ``.<target>.<pid>.<random>``.
    try:
        os.kill(int(tmp.name.rsplit(".", 2)[-2]), 0)
    except (ValueError, IndexError, ProcessLookupError):
        return False
    except PermissionError:
        return True
    return True


def publish_dir(
    root: str | os.PathLike, family: str, sig: str, build: Callable[[Path], None]
) -> Path:
    """Return ``root/<family>_<sig>``, building it first if no process has.

    ``build`` writes into a temp directory private to this process, beside
    the target, and ``os.rename`` publishes it whole; a directory under the
    target name is therefore always complete. A process that loses the
    race discards its own copy. Before building, published directories of
    the same family with another signature (derived copies can be
    multi-GB, they must not pile up across source regenerations) and temp
    directories whose builder has exited are removed; an unpublished temp
    directory is never adopted.
    """
    root = Path(root)
    out = root / f"{family}_{sig}"
    if out.is_dir():
        return out
    root.mkdir(parents=True, exist_ok=True)
    for old in root.glob(f"{family}_*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    for tmp in root.glob(f".{family}_*"):
        if not _builder_alive(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
    tmp = Path(tempfile.mkdtemp(prefix=f".{out.name}.{os.getpid()}.", dir=root))
    try:
        build(tmp)
        os.chmod(tmp, 0o755)  # mkdtemp's 0o700 is a temp-dir default, not a layout rule
        try:
            os.rename(tmp, out)
        except OSError:
            if not out.is_dir():
                raise
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
