"""The one owner of per-session, per-data-directory state.

Every memo, cached frame and evidence record the engine keeps between
calls lives in the dict ``scope(spark, sf_dir)`` returns: the live
application's state for one data directory (``sf_dir`` normalized with
``rstrip("/")``).  Readers of an evidence record use
``evidence(spark, sf_dir, name)``, which returns a copy; writers replace
a record whole (``scope(...)[name] = {...}``).

One lifetime rule covers all of it:

- PySpark allows one live SparkContext per driver process, so the first
  access under a new ``applicationId`` drops every scope of the old one.
  That context is gone, and its cached blocks with it, so nothing is
  unpersisted.
- Within the live application at most ``SCOPES`` data directories keep
  a scope; the least recently used is dropped first.  Dropping a scope
  unpersists, without blocking, every cached DataFrame it holds.

The derived-view cache of ``sqlsurface`` used to key on ``id(spark)``,
because temp views belong to one SparkSession.  Application scope is
equivalent: nothing in this repository calls ``SparkSession.newSession()``,
so one application has one session.
"""

from __future__ import annotations

import copy
import threading
from collections import OrderedDict

# data directories kept per application: each scope can pin cached
# frames in executor memory
SCOPES = 4

_live: OrderedDict[tuple[str, str], dict] = OrderedDict()
_lock = threading.Lock()


def scope(spark, sf_dir: str) -> dict:
    """The live application's mutable state for ``sf_dir``."""
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    with _lock:
        if _live and next(iter(_live))[0] != key[0]:
            _live.clear()
        if key in _live:
            _live.move_to_end(key)
            return _live[key]
        if len(_live) >= SCOPES:
            _release(_live.popitem(last=False)[1])
        return _live.setdefault(key, {})


def evidence(spark, sf_dir: str, name: str) -> dict:
    """A copy of the last ``name`` record for ``sf_dir``, or ``{}``."""
    return copy.deepcopy(scope(spark, sf_dir).get(name, {}))


def _release(dropped: dict) -> None:
    """Unpersist, without blocking, every cached DataFrame in a dropped
    scope, at any depth of its dicts, lists and tuples."""
    todo = list(dropped.values())
    while todo:
        v = todo.pop()
        if isinstance(v, dict):
            todo.extend(v.values())
        elif isinstance(v, (list, tuple)):
            todo.extend(v)
        elif getattr(v, "is_cached", False):
            v.unpersist(blocking=False)
