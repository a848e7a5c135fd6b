from ..lake.table import last_event_wins  # noqa: F401
from .apply import EpochApplier  # noqa: F401
