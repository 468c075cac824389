"""kgforge — a from-scratch PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of luigiba/OpenKEonSpark.

Pipeline: transcripts → turn reassembly (B1) → mention detection +
triple extraction (B2/B3) → entity linking via translational-distance
kernels TransE/H/R/D (B4–B6, A7–A10) → MinHash-LSH + connected-components
canonicalization (B7/B8) → dense-ID materialization with lineage and
checkpoint/resume (B9–B11) → OpenKE link-prediction evaluation gate
(A15–A19).

Everything is DataFrame-first: Catalyst plans, broadcast joins for
dictionaries, AQE for skew, Arrow-batched pandas UDFs for the vectorized
NumPy hot paths. No RDDs, no per-row Python UDFs.

Reference parity notes cite OpenKEonSpark symbols (e.g.
``base/Reader.h::importTrainFiles``) per SURVEY.md §0 — the checkout at
/root/reference is empty, so citations are recalled-public-repo symbols,
not file:line.
"""

__version__ = "0.1.0"


def _lazy_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` stop re-reading zip archives.

    Before CPython 3.13, ``zipimporter.invalidate_caches`` re-reads the
    archive's whole central directory, once per importer instance. A
    PySpark worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and ``pyspark.zip`` (plus any ``--py-files`` zip) sits on
    its path under many importer instances, so each Python task re-parsed
    tens of thousands of directory entries before reaching kgforge code.
    This installs the 3.13 behaviour: ``_files`` reads the shared
    directory cache, ``invalidate_caches`` only drops the archive's
    entry, and the next lookup (an import, or ``pkgutil``'s direct read
    of the cache) reads the archive once more, so a rewritten archive is
    still seen. A no-op where ``_get_files`` already exists (3.13+, or
    installed before)."""
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return

    class _DirectoryCache(dict):
        def __missing__(self, archive):
            files = self[archive] = zipimport._read_directory(archive)
            return files

    zipimport._zip_directory_cache = _DirectoryCache(zipimport._zip_directory_cache)

    def _get_files(self):
        try:
            return zipimport._zip_directory_cache[self.archive]
        except zipimport.ZipImportError:
            return {}

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    cls._get_files = _get_files
    # a data property, so it wins over the ``_files`` instance attribute of
    # importers made before the install; ``__init__`` assigns ``_files``
    # (before ``archive``) only after storing the same dict in the cache
    cls._files = property(_get_files, lambda self, files: None)
    cls.invalidate_caches = invalidate_caches


_lazy_zip_directories()
