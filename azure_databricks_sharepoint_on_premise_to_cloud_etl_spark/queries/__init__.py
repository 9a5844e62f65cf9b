"""Named query catalog: the driver-facing coverage surface.

Each family module registers its queries, each with its DuckDB oracle,
in ``catalog``.  They are imported here in a fixed order, which fixes
the registries' insertion order.  Query functions and oracle constants
are imported from their family module (``queries.core``,
``queries.curation``, ...), not from this package.
"""
from . import (  # noqa: F401
    core,
    curation,
    retrieval,
    graphs,
    business,
    stats_rank,
    stats_agreement,
    stats_sequential,
    composed,
)
from .catalog import AUX_ORACLES, AUX_QUERIES, ORACLES, QUERIES, STREAMING_PLAN_BUILDERS

__all__ = ["QUERIES", "AUX_QUERIES", "AUX_ORACLES", "STREAMING_PLAN_BUILDERS", "oracles"]


def oracles() -> dict[str, str]:
    """The driver queries' oracles, keyed like ``QUERIES``."""
    return dict(ORACLES)


# The driver records at most 50 rows, and the streaming plan audit needs
# a builder for every streaming query.
assert len(QUERIES) == 50, f"registry must stay at 50 entries, got {len(QUERIES)}"
assert set(STREAMING_PLAN_BUILDERS) == {
    n for n in AUX_QUERIES if n.startswith("streaming_")
}, "every streaming AUX query needs a pre-sink plan builder for the audit"
