"""Column-expression templates: built once, reused by every query build.

Several operators construct large unresolved expression trees — the
minhash min-aggregates, simhash bit sums, PQ subspace arrays, RP-LSH
bucket folds and the robots, URL and weblink batteries. Building one
costs hundreds to thousands of py4j round-trips (up to ~1 s of driver
time per query build), while the tree depends only on its arguments:
no data, no session state. Decorating the builder with :func:`template`
makes repeat builds — across queries and across streaming
micro-batches — a dictionary lookup, the prepared-statement move.

The dashboard builders use it too, for what each query start pays:
``windows.window_col`` and ``window_bounds_epoch``, the aggregate and
projection lists of ``aggregates.windowed_kpi``, ``windowed_region``
and ``tumbling_traffic``, ``activity.enrich_activity``'s projection and
``generator.kpi_components_from_cdc``'s filter and projections. Their
trees are small, but each ``F.*`` call is a py4j round trip, and a
dashboard restart on a warm JVM sent 699 of them before these builders
were templates and 244 after (``tests/test_dashboard_start.py`` holds
the start under 300).

The policy lives here and nowhere else:

* **Bound.** The 256 most recently used templates, over all builders
  together, are kept. A miss only costs re-construction.
* **Key.** The live py4j gateway object (``SparkContext._gateway``)
  plus the positional arguments, which must be hashable. A template
  holds py4j references into one JVM. ``spark.stop()`` followed by a
  new session keeps the gateway, so templates keep hitting; a gateway
  restart makes a new gateway object, so templates are rebuilt instead
  of failing on a closed connection. The gateway itself is keyed, not
  its ``id()``, which a new gateway could reuse. Pass module-level
  functions as arguments: a per-call lambda misses every time and holds
  a slot until evicted.
* **Shared expression ids.** Alias and lambda-variable ids are fixed
  when the template is built, so every plan that embeds it carries the
  same ids. Separate queries resolve independent plans, and a join of
  two *different* frames that each embed the template is re-aliased by
  Spark's DeduplicateRelations (pinned by a regression test). A consumer
  that exposes one cached alias on both sides of a self-join of the
  *same* frame must re-alias it first.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict

from pyspark import SparkContext

_BOUND = 256
_cache: OrderedDict = OrderedDict()
_lock = threading.Lock()


def template(build):
    """Cache ``build``'s result per (live gateway, arguments) under the
    module policy above."""

    @functools.wraps(build)
    def cached(*args):
        key = (SparkContext._gateway, build, args)
        with _lock:
            if key in _cache:
                _cache.move_to_end(key)
                return _cache[key]
        value = build(*args)
        with _lock:
            _cache[key] = value
            if len(_cache) > _BOUND:
                _cache.popitem(last=False)
        return value

    return cached
