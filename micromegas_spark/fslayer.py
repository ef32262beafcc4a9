"""URI-addressed filesystem layer for the warehouse (and blob storage).

The reference writes partition DATA to object storage at its final unique
key and commits VISIBILITY through the partition catalog — a Postgres
transactional retire+insert, never a filesystem rename
(``rust/analytics/src/lakehouse/write_partition.rs:626-910``). This module
gives the Spark rebuild the same shape: the per-view manifest is the
single atomicity point. Partition data directories are written once at a
unique path, the manifest swap (atomic ``os.replace``-style move on
rename-capable filesystems, a single atomic PUT on object stores) is what
makes a partition visible, and readers only ever open paths the manifest
lists — so a half-written partition is unreachable by construction.

Two path vocabularies coexist on purpose:

- the **Spark-facing URL** — whatever the user configured the warehouse
  root as (a plain path, ``file:///...``, ``s3a://bucket/wh``,
  ``hdfs://...``). ``spark.read.parquet`` / ``df.write.parquet`` get this
  verbatim, so the JVM side resolves it through its own Hadoop
  filesystems. Manifest ``path`` fields store this form.
- the **pyarrow-native path** — what :mod:`pyarrow.fs` operations take
  (metadata reads/writes, existence checks, deletes). pyarrow is used for
  driver-side metadata because it speaks the same URI schemes without the
  JVM, and because executors cannot reach the driver's py4j gateway
  (sources/transit.py's blob writer shares this layer for exactly that
  reason). Hadoop-only scheme aliases are normalized (``s3a``→``s3``,
  ``gs``→``gcs``) so one configured root serves both sides.
"""

from __future__ import annotations

import os
import time
import uuid


def resolve_fs(root: str):
    """Resolve a plain path or URI to ``(FileSystem, fs_path, url)``.

    ``fs_path`` is the pyarrow-native path; ``url`` keeps the caller's
    spelling (absolutized for plain paths) for the Spark side."""
    from pyarrow import fs as pafs

    if "://" not in root:
        p = os.path.abspath(root)
        return pafs.LocalFileSystem(), p, p
    uri = root.replace("s3a://", "s3://", 1).replace("gs://", "gcs://", 1)
    f, path = pafs.FileSystem.from_uri(uri)
    return f, path, root.rstrip("/")


class WarehouseFS:
    """One warehouse root, addressable by URL (Spark) and path (pyarrow).

    Atomicity contract (mirrors write_transit_blobs, sources/transit.py):
    on rename-capable filesystems (local, HDFS) small metadata files are
    written to a temp name and moved into place; on object stores a
    single PUT is already all-or-nothing, so files are created at their
    final key directly. Partition DATA directories never rely on either —
    they are written once at a unique path and committed by the manifest.
    """

    def __init__(self, root: str):
        self.fs, self.root_path, self.root_url = resolve_fs(root)
        self.is_local = self.fs.type_name == "local"
        self.rename_safe = self.fs.type_name in ("local", "hdfs")

    # -- addressing --------------------------------------------------------

    def url(self, *rel: str) -> str:
        """Spark-facing absolute URL under the root."""
        return "/".join([self.root_url.rstrip("/"), *rel]) if rel else self.root_url

    def fs_path(self, url: str) -> str:
        """Map a Spark-facing URL (or plain path) to the pyarrow path."""
        if url.startswith(self.root_url):
            return self.root_path + url[len(self.root_url):]
        if "://" not in url:
            return url
        u = url.replace("s3a://", "s3://", 1).replace("gs://", "gcs://", 1)
        scheme, rest = u.split("://", 1)
        if scheme == "file":
            return "/" + rest.lstrip("/")
        return rest

    def canon(self, url: str) -> str:
        """Canonical spelling for path-SET membership (the vacuum live
        sets, retire_partition_by_file): every way a manifest entry may
        spell one location — relative plain path (pre-fslayer manifests
        wrote os.path.join output), absolute plain path, file:// URL, or
        the configured root URL — maps to ONE string. Normalizing each
        spelling on its own is not enough ('wh/v/d' vs '/abs/wh/v/d' vs
        'file:///abs/wh/v/d' all name the same dir but compare unequal),
        which made vacuum treat live legacy entries as orphans. Canonical
        form is the pyarrow-native path, absolutized on local
        filesystems (relative legacy paths were always CWD-relative,
        same as a relative warehouse root)."""
        p = self.fs_path(url)
        if self.is_local:
            p = os.path.abspath(p)
        return os.path.normpath(p)

    def local_path(self, *rel: str) -> str | None:
        """OS-level path for things that genuinely need one (flock); None
        when the warehouse is not on a local filesystem."""
        if not self.is_local:
            return None
        return os.path.join(self.root_path, *rel)

    def unique_dir_url(self, *rel_prefix: str) -> str:
        """A never-reused data-directory URL: the write-once target the
        manifest commit points at (the reference's unique object key,
        write_partition.rs — uuid file names under the view prefix)."""
        return self.url(*rel_prefix) + f"_{uuid.uuid4().hex[:8]}"

    # -- metadata ops (pyarrow side) ----------------------------------------

    def mkdirs(self, url: str) -> None:
        self.fs.create_dir(self.fs_path(url), recursive=True)

    def exists(self, url: str) -> bool:
        from pyarrow import fs as pafs

        info = self.fs.get_file_info(self.fs_path(url))
        return info.type != pafs.FileType.NotFound

    def rmtree(self, url: str, ignore_errors: bool = True) -> None:
        """Delete a directory tree if present. Used ONLY on paths that are
        already invisible (a manifest commit's retired partitions, swept
        orphans) — never as a commit mechanism."""
        try:
            self.fs.delete_dir(self.fs_path(url))
        except FileNotFoundError:
            pass
        except Exception:
            if not ignore_errors:
                raise

    def delete_file(self, url: str) -> None:
        try:
            self.fs.delete_file(self.fs_path(url))
        except FileNotFoundError:
            pass

    def listdir(self, url: str) -> list[str]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(self.fs_path(url), allow_not_found=True)
        return [info.base_name for info in self.fs.get_file_info(sel)]

    def newest_mtime(self, url: str) -> float | None:
        """Newest known mtime of a path and (for directories) everything
        under it; ``None`` when the store reports no mtime anywhere.
        Object-store directory markers commonly carry no mtime, so a
        dir-level probe alone would read as epoch-0 — infinitely old —
        and void the vacuum grace window exactly where it matters (the
        no-flock deployments). Callers treat ``None`` as 'age unknown:
        too young to touch', never as old."""
        from pyarrow import fs as pafs

        p = self.fs_path(url)
        try:
            infos = [self.fs.get_file_info(p)]
            sel = pafs.FileSelector(p, recursive=True, allow_not_found=True)
            infos += list(self.fs.get_file_info(sel))
        except Exception:
            return None
        best = None
        for info in infos:
            if getattr(info, "mtime", None) is not None:
                t = info.mtime.timestamp()
                if best is None or t > best:
                    best = t
        return best

    def sweep_orphans(self, root_url: str, live, min_age_seconds: float) -> int:
        """The one orphan sweep (Lakehouse.vacuum_orphans): delete each
        entry directly under ``root_url`` that no path in ``live`` names
        and whose newest mtime is at least ``min_age_seconds`` old.
        Returns entries removed.

        Membership is by canon, not by the spelling: manifests written by older
        code spell a committed dir relative, plain-absolute or file://,
        and a spelling mismatch here would delete COMMITTED data (ADVICE
        r10). Unknown age (object-store dir markers carry no mtime)
        counts as a possible in-flight write, never as infinitely old."""
        live = {self.canon(p) for p in live}
        removed = 0
        now = time.time()
        for name in self.listdir(root_url):
            url = f"{root_url}/{name}"
            if self.canon(url) in live:
                continue
            mtime = self.newest_mtime(url)
            if mtime is None or now - mtime < min_age_seconds:
                continue
            self.rmtree(url)
            removed += 1
        return removed

    def read_bytes(self, url: str) -> bytes:
        with self.fs.open_input_stream(self.fs_path(url)) as f:
            return f.read()

    def write_bytes_atomic(self, url: str, data: bytes) -> None:
        """All-or-nothing small-file write: tmp+move where rename exists,
        direct PUT where the store makes a single put atomic."""
        final = self.fs_path(url)
        if self.rename_safe:
            tmp = final + f".tmp{uuid.uuid4().hex[:8]}"
            with self.fs.open_output_stream(tmp) as f:
                f.write(data)
            self.fs.move(tmp, final)
        else:
            with self.fs.open_output_stream(final) as f:
                f.write(data)

    def read_parquet_table(self, url: str, read_dictionary=None):
        import pyarrow.parquet as pq

        return pq.read_table(
            self.fs_path(url), filesystem=self.fs, read_dictionary=read_dictionary
        )

    def claim_parquet_table(self, table, url: str) -> bool:
        """Put-if-absent of a single parquet file — the CAS primitive of
        the generation-numbered manifest commit (materialize/batch.py
        ``_commit_manifest``). Returns False when the key already exists
        (another writer claimed the generation first).

        Local filesystems: write a temp file, then hard-link it to the
        final name — link(2) fails with EEXIST when the name is taken,
        an atomic cross-process test-and-set the kernel guarantees with
        no advisory lock (the reference's equivalent arbitration is a
        Postgres transaction, write_partition.rs:790+).

        Non-local stores: a single PUT is atomic but pyarrow.fs exposes
        no conditional PUT, so the existence pre-check leaves a small
        window — callers on object stores use token-unique keys so
        concurrent PUTs never overwrite each other, and arbitrate with
        the post-write winner check in _commit_manifest. When the store
        client grows conditional-PUT support (S3 If-None-Match, GCS
        ifGenerationMatch, ABFS ETag), this method is the single hook
        where it plugs in."""
        import pyarrow.parquet as pq

        final = self.fs_path(url)
        if self.is_local and self.rename_safe:
            tmp = final + f".claim{uuid.uuid4().hex[:8]}"
            pq.write_table(table, tmp, filesystem=self.fs)
            try:
                os.link(tmp, final)
                return True
            except FileExistsError:
                return False
            finally:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
        from pyarrow import fs as pafs

        if self.fs.get_file_info(final).type != pafs.FileType.NotFound:
            return False
        pq.write_table(table, final, filesystem=self.fs)
        return True
