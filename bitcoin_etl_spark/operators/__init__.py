from ..lake.table import last_event_wins  # noqa: F401
from .validate import tokens_valid_udf  # noqa: F401
from .apply import EpochApplier  # noqa: F401
