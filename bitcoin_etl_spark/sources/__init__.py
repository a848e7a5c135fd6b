from .raw_blocks import RAW_BLOCK_SCHEMA, generate_raw_chain  # noqa: F401
from .mappers import (  # noqa: F401
    map_blocks,
    map_transactions,
    explode_inputs,
    explode_outputs,
    enrich_inputs,
)
from .genesis import genesis_static_df, inject_static_rows  # noqa: F401
from .kafka import decode_frames, encode_frames  # noqa: F401
