"""The Hadoop FileSystem boundary and the one crash-safe directory swap.

The ingest pipeline's crash-correctness rests on rename-based swaps and
sentinel files; the reference gets the equivalent atomicity from Oracle
transactions (src/oracle_target.py:106-115).  Driver-local
``os``/``glob`` calls would see a different filesystem than the
executors on an object-store deployment: markers would never exist
where the executors look, and every "atomic" swap would be a
local-disk fiction.  So every listing, rename, delete, marker and
control file of the artifact layer, the key sidecar and the lake
maintenance operators goes through :class:`HadoopFs`, which resolves
the filesystem from the path's scheme (``file://``, ``hdfs://``,
``s3a://``…).

Swap protocol (:meth:`HadoopFs.swap` / :meth:`HadoopFs.heal`): a
directory ``dst`` is replaced by a fully written ``new`` directory.

- ``new`` is ONE deterministic path per destination (``<dst>.__new``
  for the maintenance rewrites and the key sidecar; a fixed
  ``__erase_tmp`` root for ``erase_users``), written with
  ``mode("overwrite")``, so a retry replaces a crashed attempt's temp
  dir instead of leaving one more behind.
- ``aside`` is ONE deterministic path per destination, chosen by the
  caller: ``<dst>.__old`` for the maintenance rewrites and the key
  sidecar; ``work_dir/__erase_trash/<encoded dst>`` for
  ``erase_users``, outside the data roots so a torn swap never leaves
  a stray name inside a ``b*`` listing; ``<root>/__trash/<tag>`` for
  ``compact_sink``'s marker-guarded group swap.
- ``swap(new, dst, aside)``: heal, rename ``dst`` to ``aside``, rename
  ``new`` to ``dst``, delete ``aside``.
- ``heal(dst, aside)``, run before a destination is read or replaced:

  ==============  ==============  =====================================
  ``aside``       ``dst``         action
  ==============  ==============  =====================================
  missing         any             nothing (one ``exists`` probe)
  present         missing         torn between the renames: rename
                                  ``aside`` back, the swap never happened
  present         present         the swap completed but the delete did
                                  not: delete ``aside``
  ==============  ==============  =====================================

  Because ``aside`` is deterministic, a leftover from a completed swap
  is deleted at the next heal rather than outliving later swaps, and
  the table restored after a tear is always the newest one.

Rename atomicity: directory rename is atomic on HDFS-semantics stores
(HDFS, local ``file://``, ABFS, GCS connector); on S3A it is a
non-atomic copy+delete.  The protocol stays crash-consistent there too
— a tear is healed, not read — but the single-writer assumption becomes
load-bearing: two concurrent writers on raw S3 could interleave inside
a swap.  Deployments there should front the sink with a rename-atomic
layer.

Hadoop's ``rename`` onto an EXISTING directory moves the source inside
it instead of replacing it; :meth:`HadoopFs.rename` therefore raises
when the destination exists rather than nesting silently.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class HadoopFs:
    """String-path facade over ``org.apache.hadoop.fs.FileSystem``.

    One instance binds the filesystem of ``anchor``'s scheme; every
    method takes plain path strings (absolute paths or URIs).  Local
    ``file://`` paths are normalized back to plain ``/…`` strings so
    the returned values stay byte-comparable with caller-built
    ``os.path.join`` paths."""

    def __init__(self, spark: SparkSession, anchor: str) -> None:
        jvm = spark._jvm
        self._jvm = jvm
        self._jpath = jvm.org.apache.hadoop.fs.Path
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jpath(anchor).getFileSystem(self._conf)

    def _str(self, jp) -> str:
        uri = jp.toUri()
        if uri.getScheme() in (None, "file"):
            return uri.getPath()
        return jp.toString()

    # -- predicates ------------------------------------------------------
    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._jpath(path)))

    def is_dir(self, path: str) -> bool:
        p = self._jpath(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    # -- mutation --------------------------------------------------------
    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._jpath(path))

    def touch(self, path: str) -> bool:
        """Create an empty marker file; False if it already existed."""
        return bool(self._fs.createNewFile(self._jpath(path)))

    def rename(self, src: str, dst: str) -> None:
        """Move ``src`` to the absent path ``dst``; raises if ``dst``
        exists (see the module docstring) or the store refuses."""
        if self._fs.exists(self._jpath(dst)):
            raise FileExistsError(f"rename destination exists: {dst}")
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        """Recursive delete; missing paths are a no-op."""
        self._fs.delete(self._jpath(path), True)

    # -- the swap protocol (module docstring) ----------------------------
    def heal(self, dst: str, aside: str) -> None:
        """Finish or roll back a torn :meth:`swap` (module docstring)."""
        if not self.exists(aside):
            return
        if self.exists(dst):
            self.delete(aside)
        else:
            self.rename(aside, dst)

    def swap(self, new: str, dst: str, aside: str) -> None:
        """Replace ``dst`` (which may be absent) with ``new``."""
        self.heal(dst, aside)
        if self.exists(dst):
            self.rename(dst, aside)
        self.rename(new, dst)
        self.delete(aside)

    # -- listing ---------------------------------------------------------
    def list_names(self, path: str) -> list[str]:
        """Child entry names of a directory; [] when it doesn't exist."""
        p = self._jpath(path)
        if not self._fs.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(p)]

    def list_children(self, path: str) -> list[tuple[str, str]]:
        """Sorted ``(name, full_path)`` child entries; [] when missing."""
        p = self._jpath(path)
        if not self._fs.exists(p):
            return []
        out = [
            (s.getPath().getName(), self._str(s.getPath()))
            for s in self._fs.listStatus(p)
        ]
        out.sort()
        return out

    def total_bytes(self, path: str, suffix: str = ".parquet") -> int:
        """Recursive data-file byte total (footer-exact file sizes)."""
        total = 0
        it = self._fs.listFiles(self._jpath(path), True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(suffix):
                total += st.getLen()
        return total

    # -- small control files (markers carrying JSON payloads) -------------
    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._jpath(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        inp = self._fs.open(self._jpath(path))
        try:
            buf = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                inp, buf, self._conf, False
            )
            return buf.toString("UTF-8")
        finally:
            inp.close()
