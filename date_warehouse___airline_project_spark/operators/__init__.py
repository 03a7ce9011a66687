from .split import with_quarantine_reason  # noqa: F401
from .order import with_ingest_order, ffill_repair_ids  # noqa: F401
from .dedup import dedup_keep_first, duplicate_groups, first_per_key  # noqa: F401
from .fuzzy import fuzzy_correct  # noqa: F401
from .scd2 import scd2_merge  # noqa: F401
from .topk import latest_per_key  # noqa: F401
