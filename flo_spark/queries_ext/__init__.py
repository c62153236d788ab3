"""Extended query catalog — TPC-H-adapted relational coverage plus the
window/statistical/streaming/multimodal/graph/dedup/lakehouse operator
families, split into one module per family (round 8; formerly a single
19.5k-line module).

Registered into the same ``REGISTRY`` as ``flo_spark.queries`` (which
imports this package at its bottom); every entry follows the same
conventions: identical aliases in Spark and oracle SQL, money rounded
2dp, ratios 4dp, every LIMIT ordered by a unique tie-break key.

The driver's testdata is a REDUCED TPC-H schema (no partsupp, no
l_commitdate/l_receiptdate/l_shipmode, no phone/comment columns), so
the classic queries are adapted; each docstring notes the adaptation.

Scale notes (100 TB): every query shuffles the fact table at most
once on its aggregation key.  Broadcast HINTS are reserved for
fixed-cardinality sides (nation=25, region=5, single-row scalar
aggregates, static lookup sets); SF-scaling tables
(customer/supplier/part and frames derived from them) carry NO hint —
a hint is a command that overrides the size threshold and OOMs the
build side at 100 TB, while the size-based planner/AQE picks
broadcast at bench scale anyway (plan-tested) and degrades to a key
shuffle at cluster scale.  Window queries partition by a
high-cardinality key (custkey/partkey) so state per task stays
bounded; no driver-side collection anywhere.

Ordering: ``queries()`` leads with the 50 keys of
``queries.DRIVER_CHECK_ORDER`` (the driver's window, pinned by name);
every other entry follows in registration order, i.e. in the family
import order below.
"""

from __future__ import annotations

from flo_spark.queries import REGISTRY

# Family modules — importing registers their @query entries.
from flo_spark.queries_ext.tpch import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.relational import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.sketch_approx import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.text_pipeline import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.dedup_er import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.streaming import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.multimodal import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.graph import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.stats_ml import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.stats_tests import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.lakehouse import *  # noqa: F401,F403,E402
from flo_spark.queries_ext.flo_surface import *  # noqa: F401,F403,E402
