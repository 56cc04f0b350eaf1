"""One session memo for corpus-level model state: dictionaries,
codebooks, centroids, materialized corpus tables and plan-time probe
verdicts, reused across the queries of one session on purpose."""

from __future__ import annotations

from typing import Any, Callable, Hashable, Iterable

from .tables import _stat_key

#: module-global so a tracer finds it the way it finds any memo dict
_MEMO: dict[tuple, Any] = {}


def session_memo(
    spark,
    kind: str,
    params: Hashable,
    build: Callable[[], Any],
    sources: Iterable[str] = (),
) -> Any:
    """The value of ``build()`` for this session, ``kind``, ``params``
    and snapshot of each ``sources`` path.

    - The key is ``(applicationId, kind, params, ((path, stat), ...))``;
      ``params`` must hold every input that changes the value, and
      ``tables._stat_key`` is the freshness rule for each source.
    - A hit returns the stored object; falsy values are hits too.
    - A miss first drops the entries of dead applications (their
      context and blocks are gone, and the reference would pin the
      JVM plan) and the entries that differ from the new key only in
      a source's stat (a rewrite made them stale), then runs
      ``build()`` and stores its result; nothing is stored if it
      raises. Nothing else evicts: there is no size cap.
    """
    app = spark.sparkContext.applicationId
    srcs = tuple((p, _stat_key(p)) for p in sources)
    key = (app, kind, params, srcs)
    if key in _MEMO:
        return _MEMO[key]
    paths = tuple(p for p, _ in srcs)
    for k in list(_MEMO):
        if k[0] != app or (k[1:3] == key[1:3] and tuple(p for p, _ in k[3]) == paths):
            del _MEMO[k]
    _MEMO[key] = value = build()
    return value
