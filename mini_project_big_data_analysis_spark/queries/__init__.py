"""Declared query catalog (SURVEY.md §2). Importing this package registers
every query id into ``REGISTRY``."""

from .base import REGISTRY, Query, register  # noqa: F401

from . import flagship  # noqa: F401,E402
from . import sources_q  # noqa: F401,E402
from . import scalars_q  # noqa: F401,E402
from . import filters_q  # noqa: F401,E402
from . import aggregates_q  # noqa: F401,E402
from . import dashboard_q  # noqa: F401,E402
from . import joins_q  # noqa: F401,E402
from . import advanced_q  # noqa: F401,E402
from . import windows_q  # noqa: F401,E402
from . import temporal_q  # noqa: F401,E402
from . import sql_q  # noqa: F401,E402
from . import sql_q2  # noqa: F401,E402
from . import cbo_q  # noqa: F401,E402
from . import streaming_q  # noqa: F401,E402
from . import ext_dedup_q  # noqa: F401,E402
from . import ext_similarity_q  # noqa: F401,E402
from . import ext_text_q  # noqa: F401,E402
from . import ext_multimodal_q  # noqa: F401,E402
from . import ext_pipeline_q  # noqa: F401,E402
from . import ext_corpus_q  # noqa: F401,E402
from . import ext_mining_q  # noqa: F401,E402
from . import ext_product_q  # noqa: F401,E402
from . import ext_audit_q  # noqa: F401,E402
from . import ext_timeseries_q  # noqa: F401,E402


def all_queries() -> dict[str, Query]:
    """Public query catalog in registration (module/SURVEY §2) order.

    The iteration order here is the stable public API contract. The external
    driver's per-round correctness-coverage rotation (which 50 ids get hard
    hash-checked rows this round) is deliberately NOT encoded here — it lives
    in ``__spark_entry__.py::coverage_rotation()`` with its own documentation
    and the policy in COVERAGE_ROTATION.md, so reordering for coverage
    can never silently change library behavior.
    """
    return dict(REGISTRY)
