"""smart_water_management_spark — a PySpark-native analytics engine.

Brand-new engine with the query/data-processing capability surface of the
reference `Tee-works/smart-water-management` (see SURVEY.md), re-expressed
as idiomatic DataFrame/SQL/Catalyst plans plus Structured Streaming, and
extended with LLM-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) designed for 100 TB scale.

Importing this package populates the query registry used by
``__spark_entry__.py`` (the correctness driver contract).
"""

from __future__ import annotations

from . import registry
from .session import get_session  # noqa: F401

# Import operator modules for their registration side effects. Each
# streaming twin binds its batch query's oracle when it registers, so the
# batch modules import before ``streaming.jobs`` (which itself imports the
# llmdata modules it shares helpers with). A module that fails to import
# fails the package import: the registry is never silently partial.
from .operators import aggregations, joins, windows, relational, skew  # noqa: F401
from .llmdata import components  # noqa: F401
from .functions import scalar, udfs  # noqa: F401
from .sources import io_ops  # noqa: F401
from .plans import scd, mv, pipeline  # noqa: F401
from .streaming import ingest  # noqa: F401
from .plans import dashboard, star_schema  # noqa: F401
from .validation import checks  # noqa: F401
from .streaming import batch_windows  # noqa: F401
from .ml import analytics  # noqa: F401
from .streaming import jobs  # noqa: F401
from .llmdata import dedup, similarity, text, multimodal, curation  # noqa: F401

# Last: driver-window aliases (must see every natural registration above).
from . import driver_window  # noqa: F401

queries = registry.all_queries
oracle_sql = registry.all_oracles
