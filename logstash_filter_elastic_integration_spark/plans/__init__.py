from .document import fcol, resolve_field, RESERVED  # noqa: F401
from .pipeline import (  # noqa: F401
    IngestPipeline,
    LocalDim,
    PipelineRegistry,
    CompileContext,
    run_pipeline,
    prepare,
    finalize,
)
