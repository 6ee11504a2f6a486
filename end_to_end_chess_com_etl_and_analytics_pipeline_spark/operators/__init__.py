from .merge import absent_rows, insert_if_absent, latest_wins  # noqa: F401
from .prefix_join import longest_prefix_match  # noqa: F401
