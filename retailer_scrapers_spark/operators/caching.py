"""Cache-lifetime helpers shared by operators that persist intermediates.

``localCheckpoint(eager=True)`` row-serializes every block and
anti-scales at multi-million-row inputs (BENCH/BASELINE.md); operators
use ``persist()`` (columnar cache) instead — but a bare persist leaks
blocks for the SparkContext lifetime in long-lived drivers. The helper
here ties a cache's lifetime to the returned result handle.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame


def unpersist_when_collected(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Release every ``cached`` DataFrame when the caller drops ``result``.

    A weakref finalizer ties the caches' lifetime to the returned
    DataFrame handle: once the caller has consumed and released the
    result, the blocks are freed. Callers holding the result across many
    actions keep the caches (correct — recomputation would be the
    expensive path).

    Lifetime contract (ADVICE r3): DataFrames DERIVED from the result
    (``op(df).filter(...)``) do not reference the original Python
    handle, so chained use that drops the intermediate may release the
    caches before the terminal action runs — correctness is unaffected
    (Spark recomputes), only the caching is defeated. Callers chaining
    further transformations should keep the returned handle alive until
    their terminal action, or release deterministically via the
    attached ``result.release_caches()`` (idempotent; also detaches the
    finalizer). A ``result`` that already carries caches
    (:func:`carry_caches`) releases those with its own.
    """

    def _release(cs=tuple(cached), carried=getattr(result, "release_caches", None)) -> None:
        for c in cs:
            try:
                c.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped
        if carried is not None:
            carried()

    fin = weakref.finalize(result, _release)
    result.release_caches = fin  # explicit, idempotent early release
    return result


def carry_caches(derived: DataFrame, source: DataFrame) -> DataFrame:
    """Extend a cache lifetime from an operator result to a frame
    DERIVED from it (``op(df).select(...)``).

    The documented :func:`unpersist_when_collected` caveat bit for real
    in r6 profiling: every bench query that wraps an operator in a final
    ``.select`` drops the operator's handle at return, the finalizer
    fires immediately, and the operator's internal persists are released
    BEFORE the first action — minhash/ngram/d2/d6 all re-ran their
    cached subtrees per consuming branch (for d6 that meant the whole
    slice-routed probe executed twice per action). Holding ``source`` as
    an attribute of ``derived`` keeps the finalizer (and the caches)
    alive exactly as long as the frame the caller actually executes."""
    if hasattr(source, "release_caches"):
        derived._cache_source = source
        derived.release_caches = source.release_caches
    return derived
