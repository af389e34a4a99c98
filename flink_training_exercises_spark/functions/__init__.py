from .geo import (  # noqa: F401
    direction_angle,
    direction_bucket,
    euclidean_distance_km,
    grid_cell,
    grid_cell_center_lat,
    grid_cell_center_lon,
    is_in_nyc,
)
from .hashing import hash_params, md5_long, md5_long_sql, permuted_hash  # noqa: F401
from .text import (  # noqa: F401
    STOP_WORDS,
    email_address,
    month_key,
    tokenize_words,
)
from .time import epoch_ms  # noqa: F401
