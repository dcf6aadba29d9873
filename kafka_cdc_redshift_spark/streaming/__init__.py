from .job import CdcBatchProcessor, run_file_stream, TaskStatus  # noqa: F401
from .listener import OffsetCommitListener  # noqa: F401
from .store import (  # noqa: F401
    AppendLog,
    MergeOnReadTargetStore,
    ParquetTargetStore,
)
from .windows import (  # noqa: F401
    hourly_rollup,
    seen_keys_dedup,
    sessionize,
    watermarked_dedup,
)
