"""Driver-side Hadoop ``FileSystem`` access (py4j gateway).

One thin wrapper shared by every layer that touches a filesystem from the
driver — the artifact cache's publish/sweep protocol (``artifacts.py``),
the parity sink's finalize (``sinks/orc_sink.py`` has its own older copy
of the pattern), and, since round 8, the catalog's corpus fingerprint
(``catalog.py``). Centralizing it here keeps the import graph acyclic:
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
    chain the real cause instead of just "rename accepted: False"
    (round-7 ADVICE — the errno chain was explicitly load-bearing in the
    pre-Hadoop implementation)."""

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

    def qualified(self, p: str) -> str:
        """Fully-qualified URI string for ``p`` on this filesystem
        (``/tmp/x`` → ``file:/tmp/x``) — the same normalization the Spark
        catalog applies to a table LOCATION, so the two are comparable."""
        return self._fs.makeQualified(self._jPath(p)).toString()

    @staticmethod
    def _not_found(e: Exception) -> bool:
        """True when a JVM exception IS a FileNotFoundException — checked
        by exception CLASS along the Java cause chain, not by substring
        over the stringified trace (round-12 infra audit: ``str(je)``
        includes the full stack trace, so any wrapped fault whose TRACE
        mentions FileNotFoundException — e.g. an HDFS RemoteException
        whose message quotes one — would be misread as genuine absence
        and trigger a spurious corpus-scale rebuild). Two widenings
        (round-12 ADVICE — a too-STRICT classifier makes genuine absence
        raise loudly out of ``_mtime_strict`` instead of returning None):

        - each cause's class is checked up its SUPERCLASS chain, so an
          FNFE *subclass* whose own name doesn't end in
          ``FileNotFoundException`` still classifies as absence
          (assignability to ``java.io.FileNotFoundException``, walked
          instead of reflected — no target Class handle needed);
        - a cause whose class name ends in ``RemoteException`` (the HDFS
          RPC wrapper: original class only in ``getClassName()``/message,
          cause typically null) is checked by ``getClassName()`` and by a
          MESSAGE-level substring — message, never the stringified trace,
          which was the round-12 hazard.

        Falls back to the substring-over-message heuristic only when no
        Java exception object is attached (non-py4j wrappers)."""
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
                        # Message fallback ANCHORED to Hadoop's
                        # RemoteException rendering '<class>: <msg>'
                        # (round-13 ADVICE): a bare substring test
                        # classified as absence any RPC failure whose
                        # message merely QUOTED 'FileNotFoundException'
                        # in a non-absence context (a lease/retry error
                        # referencing a prior FNFE) — and the caller's
                        # reaction to absence is a corpus-scale rebuild.
                        head = str(cause.getMessage() or "").split(":", 1)[0]
                        if head.strip().endswith("FileNotFoundException"):
                            return True
                    cause = cause.getCause()
                return False
            except Exception:
                # gateway hiccup mid-introspection: fall through to the
                # message heuristic rather than misclassify as absent.
                # getMessage() is ITSELF a py4j round-trip — if the
                # gateway is what hiccuped, a second failure here must
                # fail toward "not absence" (False, the loud-raise
                # direction), not raise a new error out of an absence
                # probe (round-12 ADVICE).
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
        (relative name, length, mtime per file). The mtime alone is the
        cheap discriminator; the listing digest closes its granularity
        hole (round-8 ADVICE): an external delete+rebuild completing
        within the filesystem's timestamp granularity (1 s on some FSes)
        leaves the mtime unchanged, but a rebuild's part files carry NEW
        writer-UUID names, so the digest always moves. Liveness touches
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
        """Refresh mtime (liveness signal for the sweep grace window,
        round-6 ADVICE: reads must extend the grace, not just writes)."""
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

    def glob_parent_names(self, pattern: str) -> list[str] | None:
        """Name of the parent directory of every path matching a glob
        pattern (``dir/*/_SUCCESS`` lists the committed subdirectories in
        one call); ``[]``/``None`` as in :meth:`glob_names_mtimes`."""
        statuses = self._glob(pattern)
        if statuses is None:
            return None
        return [st.getPath().getParent().getName() for st in statuses]

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
    ``catalog.path_fingerprint``'s remote branch (round-12 infra audit:
    the loop existed as two hand-rolled copies that could silently
    diverge)."""
    import hashlib

    h = hashlib.md5()
    for rel, length, mt in sorted(entries):
        if skip_hidden and any(seg[:1] in ("_", ".") for seg in rel.split("/")):
            continue  # hidden to readers ⇒ hidden to the marker
        h.update(f"{rel}|{length}|{mt};".encode())
    return h.hexdigest()[:12]


def glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters so a literal path can be
    embedded as the prefix of a glob pattern (GlobPattern honors ``\\``).
    Lives here, next to :meth:`_HadoopFS.glob_names_mtimes`, since the
    round-12 infra audit: the artifact sweep previously imported it from
    the ORC sink — a layering inversion."""
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
