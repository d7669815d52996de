"""Driver-side Hadoop ``FileSystem`` access (py4j gateway).

One thin wrapper shared by every layer that touches a filesystem from the
driver — the artifact cache's publish/sweep protocol (``artifacts.py``),
the parity sink's finalize (``sinks/orc_sink.py``), the streaming
curation state (``streaming/curation.py``) and the catalog's corpus
fingerprint (``catalog.py``). Centralizing it here keeps the import graph acyclic:
``artifacts`` imports ``catalog`` (for the fingerprint), and ``catalog``
needs the FS wrapper for scheme'd corpus paths — so the wrapper lives
below both.

Every method is a metadata-only operation — O(1) RPCs (listing is O(files)
RPC payload), no row data through the driver. The filesystem is resolved
PER PATH from the session's Hadoop configuration, so a ``file://`` root,
an ``hdfs://`` corpus and a ``viewfs://`` mount each get their own correct
implementation — the same resolution Spark's executors perform for the
paths they read/write.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession


class _HadoopFS:
    """Wrapper over ``org.apache.hadoop.fs.FileSystem`` for one
    (session, path-scheme) pair. ``rename`` reports failure
    (False/exception) instead of raising: callers adjudicate races by
    observing the published ``_SUCCESS``. The underlying exception
    (EACCES/EROFS/…) is kept on ``last_error`` so failure diagnostics can
    chain the real cause."""

    def __init__(self, spark: SparkSession, path: str):
        self._jPath = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._jPath(path).getFileSystem(spark._jsc.hadoopConfiguration())
        self.last_error: Exception | None = None

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._jPath(p)))

    def rename(self, src: str, dst: str) -> bool:
        try:
            ok = bool(self._fs.rename(self._jPath(src), self._jPath(dst)))
            if not ok:
                self.last_error = None  # Hadoop-style False, no exception
            return ok
        except Exception as e:
            self.last_error = e
            return False

    def delete(self, p: str, recursive: bool = True) -> bool:
        """True iff the path is gone (deleted, or was already absent).
        Publish-path callers re-verify via ``_SUCCESS``; the artifact
        sweep uses the return value to surface persistent failures.

        Hadoop signals MOST delete failures as a ``false`` return, not an
        exception (e.g. EACCES inside ``FileUtil.fullyDelete`` on the
        local FS) — and also returns ``false`` for an already-absent
        path. Both the raise and the false branch therefore adjudicate by
        existence: absent ⇒ gone ⇒ success; still-present ⇒ failure. A
        dropped boolean here would report permission failures as
        successes and silently blind the sweep's failure surfacing."""
        try:
            ok = bool(self._fs.delete(self._jPath(p), recursive))
        except Exception as e:
            self.last_error = e
            try:
                return not self.exists(p)  # vanished underneath us: success
            except Exception:
                return False
        if ok:
            return True
        self.last_error = None  # Hadoop-style false, no exception to chain
        try:
            return not self.exists(p)  # false + absent = was already gone
        except Exception as e:
            self.last_error = e
            return False

    def mkdirs(self, p: str) -> bool:
        """Create ``p`` and its missing parents; True when it exists after."""
        return bool(self._fs.mkdirs(self._jPath(p)))

    def qualified(self, p: str) -> str:
        """Fully-qualified URI string for ``p`` on this filesystem
        (``/tmp/x`` → ``file:/tmp/x``) — the same normalization the Spark
        catalog applies to a table LOCATION, so the two are comparable."""
        return self._fs.makeQualified(self._jPath(p)).toString()

    @staticmethod
    def _not_found(e: Exception) -> bool:
        """True when a JVM exception IS a FileNotFoundException, checked by
        exception class along the Java cause chain, never by substring over
        the stringified trace (a wrapped fault whose trace merely mentions
        one would read as absence and trigger a corpus-scale rebuild):

        - each cause's class is checked up its superclass chain, so an FNFE
          subclass still classifies as absence;
        - a cause whose class name ends in ``RemoteException`` (the HDFS RPC
          wrapper, original class only in ``getClassName()``/message) is
          checked by ``getClassName()`` and by the head of its message.

        Falls back to a substring over the message only when no Java
        exception object is attached (non-py4j wrappers)."""
        je = getattr(e, "java_exception", None)
        if je is not None:
            try:
                cause = je
                for _ in range(8):  # bounded cause-chain walk
                    if cause is None:
                        break
                    cls = cause.getClass()
                    name = cls.getName()
                    for _ in range(8):  # bounded superclass walk
                        if cls is None:
                            break
                        if cls.getName().endswith("FileNotFoundException"):
                            return True
                        cls = cls.getSuperclass()
                    if name.endswith("RemoteException"):
                        try:
                            wrapped = str(cause.getClassName() or "")
                        except Exception:
                            wrapped = ""  # not Hadoop's RemoteException shape
                        if wrapped.endswith("FileNotFoundException"):
                            return True
                        # anchored to Hadoop's '<class>: <msg>' rendering:
                        # a message that merely quotes an FNFE is not one
                        head = str(cause.getMessage() or "").split(":", 1)[0]
                        if head.strip().endswith("FileNotFoundException"):
                            return True
                    cause = cause.getCause()
                return False
            except Exception:
                # gateway hiccup mid-introspection: try the message; if
                # that round trip fails too, answer "not absence" (the
                # loud-raise direction) rather than raise from a probe
                try:
                    return "FileNotFoundException" in (str(je.getMessage() or ""))
                except Exception:
                    return False
        return "FileNotFoundException" in str(e)

    def _mtime_strict(self, p: str) -> float | None:
        """mtime of ``p``; ``None`` ONLY for genuine absence
        (FileNotFound). Any other stat fault raises — absence and
        transient read faults must not conflate where the caller's
        reaction to absence is a corpus-scale rebuild (generation())."""
        try:
            return (
                self._fs.getFileStatus(self._jPath(p)).getModificationTime() / 1000.0
            )
        except Exception as e:
            self.last_error = e
            if self._not_found(e):
                return None
            raise

    def generation(self, dir_path: str) -> str | None:
        """Generation marker of a published artifact directory: ``None``
        when ``<dir>/_SUCCESS`` is absent, else the ``_SUCCESS`` mtime
        COMBINED with a digest of the recursive VISIBLE-file listing
        (relative name, length, mtime per file). The listing digest closes
        the mtime's granularity hole: a delete+rebuild within the
        filesystem's timestamp granularity leaves the mtime unchanged, but
        the rebuild's part files carry new writer-UUID names. Liveness touches
        refresh the DIRECTORY mtime only — ``listFiles`` returns files,
        never directories — so touches can't perturb the marker.

        Only reader-VISIBLE files are digested (no path segment starting
        with ``_`` or ``.`` — Hadoop/Spark hidden-file semantics): a
        publish-race loser's nested ``_tmp.*`` litter is invisible to
        readers by exactly this rule, so its appearance/cleanup must not
        read as a generation change (it would spuriously drop every plan
        cache downstream). ``_SUCCESS`` itself is hidden too — its mtime
        is already the marker's first component.

        Absence vs fault: the ``_SUCCESS`` stat maps ONLY FileNotFound to
        None; any other stat or listing fault on a still-published
        artifact raises loudly instead of masquerading as "unpublished"
        (which would trigger a spurious corpus-scale rebuild)."""
        mtime = self._mtime_strict(dir_path + "/_SUCCESS")
        if mtime is None:
            return None
        try:
            entries = self.list_files_recursive(dir_path)
        except Exception as e:
            self.last_error = e
            # a listing failure on a still-published artifact is a
            # READ-side fault; only a genuine vanish race maps to None
            if self._mtime_strict(dir_path + "/_SUCCESS") is None:
                return None
            raise
        return f"{mtime}|{listing_digest(entries, skip_hidden=True)}"

    def touch(self, p: str) -> None:
        """Refresh mtime (liveness signal for the sweep grace window: reads
        must extend the grace, not just writes)."""
        try:
            self._fs.setTimes(self._jPath(p), int(time.time() * 1000), -1)
        except Exception as e:
            self.last_error = e  # advisory only — a failed touch narrows the grace window

    def _glob(self, pattern: str) -> list | None:
        try:
            statuses = self._fs.globStatus(self._jPath(pattern))
        except Exception as e:
            self.last_error = e
            return None
        return list(statuses) if statuses is not None else []

    def glob_names_mtimes(self, pattern: str) -> list[tuple[str, float]] | None:
        """(basename, mtime_seconds) for paths matching a glob pattern.
        ``[]`` means the listing ran and matched nothing; ``None`` means the
        LISTING ITSELF failed (``last_error`` holds the cause). Callers that
        act on absence — the artifact sweep retires what it can no longer
        see — must distinguish the two, or a failing filesystem silently
        disables them (the same unbounded-cache hazard as a swallowed
        sweep delete, one layer up)."""
        statuses = self._glob(pattern)
        if statuses is None:
            return None
        return [
            (st.getPath().getName(), st.getModificationTime() / 1000.0)
            for st in statuses
        ]

    def glob_paths(self, pattern: str) -> list[str] | None:
        """Full path of every match of a glob pattern (``dir/*/_SUCCESS``
        lists committed subdirectories in one call); ``[]``/``None`` as in
        :meth:`glob_names_mtimes`."""
        statuses = self._glob(pattern)
        if statuses is None:
            return None
        return [st.getPath().toString() for st in statuses]

    def list_files_recursive(self, p: str) -> list[tuple[str, int, int]]:
        """(path_relative_to_p, length_bytes, mtime_millis) for every FILE
        under ``p`` (or ``p`` itself when it names a file — its relative
        name is ``"."``, mirroring ``os.path.relpath(p, p)`` in the local
        fast path). Raises (FileNotFound through py4j) when ``p`` does not
        exist — a missing corpus must fail loudly, exactly like the local
        path's ``os.stat``."""
        base = self._fs.makeQualified(self._jPath(p)).toString()
        it = self._fs.listFiles(self._jPath(p), True)
        out: list[tuple[str, int, int]] = []
        while it.hasNext():
            st = it.next()
            full = st.getPath().toString()
            if full == base:
                rel = "."
            elif full.startswith(base + "/"):
                rel = full[len(base) + 1:]
            else:  # scheme-qualification mismatch; keep it deterministic
                rel = full
            out.append((rel, int(st.getLen()), int(st.getModificationTime())))
        return out


def listing_digest(entries, skip_hidden: bool = False) -> str:
    """md5 digest of a sorted recursive listing (``rel|len|mtime;`` per
    file) — THE content-fingerprint hashing convention, shared by
    :meth:`_HadoopFS.generation` (``skip_hidden=True``: reader-visible
    files only, per Hadoop hidden-file semantics) and
    ``catalog.path_fingerprint``'s remote branch."""
    import hashlib

    h = hashlib.md5()
    for rel, length, mt in sorted(entries):
        if skip_hidden and any(seg[:1] in ("_", ".") for seg in rel.split("/")):
            continue  # hidden to readers ⇒ hidden to the marker
        h.update(f"{rel}|{length}|{mt};".encode())
    return h.hexdigest()[:12]


def glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters so a literal path can be
    embedded as the prefix of a glob pattern (GlobPattern honors ``\\``)."""
    out = []
    for ch in path:
        if ch in r"\*?[]{}":
            out.append("\\")
        out.append(ch)
    return "".join(out)


def _fs_for(path: str, spark: SparkSession | None) -> _HadoopFS:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "this filesystem operation needs a SparkSession (it goes through "
            "the Hadoop FileSystem API); pass spark= or create a session first"
        )
    return _HadoopFS(spark, path)
