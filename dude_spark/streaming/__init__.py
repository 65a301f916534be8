from .components import (  # noqa: F401
    assignment_stores,
    current_assignments,
    update_assignments,
)
from .ingest import (  # noqa: F401
    detector_ingest,
    embedding_ingest,
    start_incremental_dedup,
    tilephash_hamming_ingest,
    tilephash_ingest,
)
from .migrate import migrate_embedding_centroids  # noqa: F401
