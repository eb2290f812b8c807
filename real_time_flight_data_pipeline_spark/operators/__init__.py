from .dedup import latest_per_key, latest_per_key_window  # noqa: F401
from .joins import dim_lookup_maps, resolve_dim_id, star_join  # noqa: F401
from .merge import MergePolicy, merge_upsert  # noqa: F401
