"""Object-store IO seam — the engine's analogue of the reference's
``ObjectStoreReader`` (src/object_store_reader.rs:39-59: every read is a
ranged GET against an opaque ``Arc<dyn ObjectStore>``; listing and
metadata go through the same trait).

Every path-taking entry point (``read_orc_distributed``, ``encode_files``,
``StripeBlobReader``) resolves its path through :func:`resolve_store`, so
``s3://`` / ``gs://`` / ``hdfs://`` URIs work wherever a local path does:

- plain paths -> :class:`LocalStore` (os/glob; zero overhead, the default)
- ``memory://`` -> :class:`MemoryStore`, an in-process test double whose
  input files COUNT RANGED READS (so tests can assert tail-only metadata
  reads, the reference's ranged-GET contract)
- any other scheme -> ``fsspec`` when installed, else
  ``pyarrow.fs.FileSystem.from_uri`` (S3/GCS/HDFS/Azure ship compiled in
  pyarrow) — both picklable, so a store travels inside task closures to
  executors.

Stores are deliberately tiny: open_input (seekable), open_output,
list/glob, exists, size, makedirs, rename — the full surface the scan,
encode, and datasource paths need.
"""

from __future__ import annotations

import fnmatch
import glob as _glob
import io
import os
import posixpath
from urllib.parse import urlsplit


class LocalStore:
    """Plain filesystem via os/glob — the default, no indirection cost."""

    scheme = ""

    def open_input(self, path: str):
        return open(path, "rb")

    def open_output(self, path: str):
        return open(path, "wb")

    def list(self, dir_path: str, suffix: str | None = None) -> list[str]:
        names = sorted(os.listdir(dir_path))
        return [
            os.path.join(dir_path, n)
            for n in names
            if suffix is None or n.endswith(suffix)
        ]

    def glob(self, pattern: str) -> list[str]:
        return sorted(_glob.glob(pattern))

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)


class _CountingReader(io.BytesIO):
    """BytesIO that appends (offset, length) of every read to a log."""

    def __init__(self, data: bytes, log: list):
        super().__init__(data)
        self._log = log

    def read(self, n: int = -1):
        off = self.tell()
        out = super().read(n)
        self._log.append((off, len(out)))
        return out


class MemoryStore:
    """In-process store for tests: files live in a class-level dict keyed
    by path, reads are range-logged. Process-local by design (a test
    double, not a distributed filesystem)."""

    scheme = "memory"
    _files: dict[str, bytes] = {}
    read_log: dict[str, list] = {}

    def open_input(self, path: str):
        data = self._files.get(path)
        if data is None:
            raise FileNotFoundError(path)
        return _CountingReader(data, self.read_log.setdefault(path, []))

    def open_output(self, path: str):
        store = self

        class _W(io.BytesIO):
            def close(inner):
                store._files[path] = inner.getvalue()
                super().close()

        return _W()

    def list(self, dir_path: str, suffix: str | None = None) -> list[str]:
        prefix = dir_path.rstrip("/") + "/"
        out = set()
        for p in self._files:
            if p.startswith(prefix):
                child = p[len(prefix) :].split("/")[0]
                out.add(prefix + child)
        return sorted(p for p in out if suffix is None or p.endswith(suffix))

    def glob(self, pattern: str) -> list[str]:
        return sorted(p for p in self._files if fnmatch.fnmatch(p, pattern))

    def exists(self, path: str) -> bool:
        prefix = path.rstrip("/") + "/"
        return path in self._files or any(p.startswith(prefix) for p in self._files)

    def isdir(self, path: str) -> bool:
        prefix = path.rstrip("/") + "/"
        return path not in self._files and any(p.startswith(prefix) for p in self._files)

    def size(self, path: str) -> int:
        return len(self._files[path])

    def makedirs(self, path: str) -> None:
        pass  # directories are implicit

    def rename(self, src: str, dst: str) -> None:
        self._files[dst] = self._files.pop(src)

    @classmethod
    def clear(cls) -> None:
        cls._files.clear()
        cls.read_log.clear()


class FsspecStore:
    """Any fsspec filesystem (s3://, gs://, abfs://, http://, ...).
    Holds only (scheme, options) so it pickles cleanly into task
    closures; the fs object is lazily (re)created per process."""

    def __init__(self, scheme: str, **options):
        self.scheme = scheme
        self._options = options
        self._fs = None

    def __getstate__(self):
        return {"scheme": self.scheme, "_options": self._options}

    def __setstate__(self, state):
        self.scheme = state["scheme"]
        self._options = state["_options"]
        self._fs = None

    @property
    def fs(self):
        if self._fs is None:
            import fsspec

            self._fs = fsspec.filesystem(self.scheme, **self._options)
        return self._fs

    def _full(self, path: str) -> str:
        return path if "://" in path else f"{self.scheme}://{path}"

    def open_input(self, path: str):
        return self.fs.open(path, "rb")

    def open_output(self, path: str):
        return self.fs.open(path, "wb")

    def list(self, dir_path: str, suffix: str | None = None) -> list[str]:
        return sorted(
            self._full(p)
            for p in self.fs.ls(dir_path, detail=False)
            if suffix is None or p.endswith(suffix)
        )

    def glob(self, pattern: str) -> list[str]:
        return sorted(self._full(p) for p in self.fs.glob(pattern))

    def exists(self, path: str) -> bool:
        return self.fs.exists(path)

    def isdir(self, path: str) -> bool:
        return self.fs.isdir(path)

    def size(self, path: str) -> int:
        return self.fs.size(path)

    def makedirs(self, path: str) -> None:
        self.fs.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        self.fs.mv(src, dst)


class ArrowFSStore:
    """``pyarrow.fs.FileSystem.from_uri`` fallback (S3/GCS/HDFS/Azure ship
    compiled in pyarrow — no extra dependency). Paths handed to the
    methods keep the full URI; the scheme prefix is stripped per call."""

    def __init__(self, uri: str):
        import pyarrow.fs as pafs

        self.scheme = urlsplit(uri).scheme
        self._fs, _ = pafs.FileSystem.from_uri(uri)

    def _strip(self, path: str) -> str:
        parts = urlsplit(path)
        return (parts.netloc + parts.path) if parts.scheme else path

    def _full(self, path: str) -> str:
        return f"{self.scheme}://{path}"

    def open_input(self, path: str):
        return self._fs.open_input_file(self._strip(path))

    def open_output(self, path: str):
        return self._fs.open_output_stream(self._strip(path))

    def list(self, dir_path: str, suffix: str | None = None) -> list[str]:
        import pyarrow.fs as pafs

        sel = pafs.FileSelector(self._strip(dir_path))
        return sorted(
            self._full(fi.path)
            for fi in self._fs.get_file_info(sel)
            if suffix is None or fi.path.endswith(suffix)
        )

    def glob(self, pattern: str) -> list[str]:
        # object stores have no server-side glob: list the fixed prefix
        # directory, fnmatch client-side (same strategy fsspec uses)
        stripped = self._strip(pattern)
        base = posixpath.dirname(stripped.split("*")[0].split("?")[0].split("[")[0])
        return sorted(
            self._full(p)
            for p in (fi.path for fi in self._list_info(base))
            if fnmatch.fnmatch(p, stripped)
        )

    def _list_info(self, base: str):
        import pyarrow.fs as pafs

        return self._fs.get_file_info(pafs.FileSelector(base, recursive=True))

    def exists(self, path: str) -> bool:
        import pyarrow.fs as pafs

        return self._fs.get_file_info(self._strip(path)).type != pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        import pyarrow.fs as pafs

        return self._fs.get_file_info(self._strip(path)).type == pafs.FileType.Directory

    def size(self, path: str) -> int:
        return self._fs.get_file_info(self._strip(path)).size

    def makedirs(self, path: str) -> None:
        self._fs.create_dir(self._strip(path), recursive=True)

    def rename(self, src: str, dst: str) -> None:
        self._fs.move(self._strip(src), self._strip(dst))


def resolve_store(path: str):
    """path/URI -> (store, path). Local paths get the zero-overhead
    LocalStore; ``memory://`` the in-process test store; other schemes go
    through fsspec when installed, else pyarrow.fs."""
    scheme = urlsplit(path).scheme
    # windows drive letters and plain paths have no scheme; treat single-
    # letter schemes as local too
    if len(scheme) <= 1 or scheme == "file":
        return LocalStore(), path.removeprefix("file://")
    if scheme == "memory":
        return MemoryStore(), path
    try:
        import fsspec  # noqa: F401

        return FsspecStore(scheme), path
    except ImportError:
        pass
    try:
        return ArrowFSStore(path), path
    except Exception as exc:  # no driver for this scheme in this build
        raise ValueError(
            f"no filesystem driver for scheme '{scheme}' "
            f"(install fsspec+{scheme} driver, or use a pyarrow-supported "
            f"scheme: s3/gs/hdfs/abfs): {exc}"
        ) from exc


def open_parquet(path: str):
    """``pq.ParquetFile`` of ``path`` through its store; a local path is
    handed over as-is, so Arrow C++ owns the fd."""
    import pyarrow.parquet as pq

    store, norm = resolve_store(path)
    return pq.ParquetFile(norm if isinstance(store, LocalStore) else store.open_input(norm))


class StoreOpener:
    """Picklable ``path -> seekable file`` callable bound to a store —
    the ``opener`` seam OrcReader / ParquetFile already accept."""

    def __init__(self, store):
        self.store = store

    def __call__(self, path: str):
        return self.store.open_input(path)
