from .export import export_partitioned, export_items  # noqa: F401
from .block_range import block_range_for_timestamps  # noqa: F401
