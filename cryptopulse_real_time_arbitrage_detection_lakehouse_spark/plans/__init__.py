"""Query registry: every operator from SURVEY.md section 2 as a named query.

Importing this package populates the registry; ``__spark_entry__.py`` is a
thin shim over `all_queries` / `all_oracles`.
"""

from .registry import QuerySpec, all_oracles, all_queries, get, register

# Import for registration side effects (order = rough build order).
from . import bronze  # noqa: E402,F401
from . import medallion  # noqa: E402,F401
from . import microstructure  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import arbitrage  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import lakehouse  # noqa: E402,F401
from . import delta  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import analytics  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import inspection  # noqa: E402,F401
from . import olap  # noqa: E402,F401
from . import graph  # noqa: E402,F401

__all__ = ["QuerySpec", "register", "get", "all_queries", "all_oracles"]
