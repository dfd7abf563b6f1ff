"""Query catalog — every operator surface, as (Spark builder, DuckDB oracle) pairs.

This backs ``__spark_entry__.py``: each entry is one operator from SURVEY.md §2
(or an event-analytics or embedding/multimodal operator) exercised over the
driver's test tables (mostly ``documents``; some ``core`` entries read
``orders``, ``lineitem`` and ``customer``, the ``events`` family reads
``events`` and the ``ann`` family ``embeddings``). The families are ``crawl``,
``web``, ``warc``, ``graph``, ``text``, ``dedup``, ``core``, ``ann`` and
``events``, plus ``_shared`` snippets and the ``registry`` that holds the
CATALOG dict. The Spark side uses the real engine operators
(``operators/*``, ``functions/*``) through the DataFrame API; the SQL side is
an independent ANSI formulation DuckDB runs on the same parquet — agreement is
the correctness gate.

Cross-engine determinism rules (see operators/textstats.py): md5-derived
hashes only, floats rounded before output, identical left-fold summation
order, explicit tie-breaks in every window.

Derived inputs: the crawl operators need URL-shaped data and the dedup
operators need actual duplicates; both are derived *deterministically* from
``documents`` with expression snippets shared verbatim between the engines
(input construction is shared; the operator under test is not).
"""

from . import _shared as _mod__shared
from . import core as _mod_core
from . import crawl as _mod_crawl
from . import web as _mod_web
from . import warc as _mod_warc
from . import graph as _mod_graph
from . import text as _mod_text
from . import dedup as _mod_dedup
from . import ann as _mod_ann
from . import events as _mod_events
from . import registry as _mod_registry

# The catalog was a single 20k-line module through round 4; it is
# now a package split by query family (r5 verdict task 4). This
# rebinding reproduces the monolith's namespace exactly, so every
# existing `from openreviewcrawler_spark.catalog import X` --
# including tests importing private helpers -- keeps working.
for _m in (_mod__shared, _mod_core, _mod_crawl, _mod_web, _mod_warc, _mod_graph, _mod_text, _mod_dedup, _mod_ann, _mod_events, _mod_registry):
    globals().update({_k: getattr(_m, _k) for _k in dir(_m)
                      if not _k.startswith('__')})
