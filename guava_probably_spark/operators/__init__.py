from .build import (  # noqa: F401
    PARTIAL_SCHEMA,
    build_grouped,
    build_partials_files_multi,
    build_partials_multi,
    collect_sketch,
    collect_sketches_files,
    collect_sketches_multi,
    collect_weighted_sketch,
    tree_merge,
)
from .freeze import (  # noqa: F401
    freeze_filter,
    freeze_map,
    frozen_lookup_join,
    frozen_lookup_udf,
    frozen_probe_join,
    frozen_probe_udf,
)
from .semijoin import sketch_antijoin, sketch_prune, sketch_semijoin  # noqa: F401
from .checkpoint import (  # noqa: F401
    ResumeStats,
    build_with_checkpoint,
    checkpoint_metrics,
    job_lineage,
)
from .filetasks import list_input_files, plan_file_tasks  # noqa: F401
from .grouped_hll import grouped_hll, grouped_hll_files  # noqa: F401
from .window import running_distinct  # noqa: F401
from .drift import ks_drift_report, share_drift_report  # noqa: F401
from .store import merge_sketch_tables, write_bucketed_sketches  # noqa: F401
from .sessionize import sessionize  # noqa: F401
from .grouped_cms import grouped_cms  # noqa: F401
from .grouped_kll import grouped_dd, grouped_kll, grouped_req, grouped_tdigest  # noqa: F401
from .grouped_theta import grouped_theta  # noqa: F401
from .grouped_quantiles import grouped_quantiles  # noqa: F401
from .grouped_mode import grouped_mode  # noqa: F401
from .histogram import histogram_equidepth, histogram_equidepth_grouped  # noqa: F401
from .rollup import cube_sketches, merge_level, rolling_merge, rollup_sketches  # noqa: F401
from .overlap import source_overlap_matrix  # noqa: F401
from .profile import profile_partials, profile_summary, profile_table  # noqa: F401
