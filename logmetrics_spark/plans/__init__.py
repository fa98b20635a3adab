from .pipeline import run_pipeline, run_pipeline_multi  # noqa: F401
