"""nobletools_spark — PySpark-native biomedical KG construction with
NobleCoder-compatible matching semantics (see SURVEY.md for the blueprint
and the parity evidence)."""

__version__ = "0.1.0"

# primary library surface; heavier subsystems import from their modules
from .config import SearchConfig, for_search_method  # noqa: F401
from .worker_imports import install as _install_worker_imports

# a no-op in the driver; in a PySpark worker it stops the re-read of every
# zip directory at each task start (worker_imports.py)
_install_worker_imports()


def __getattr__(name):
    # lazy exports so `import nobletools_spark` stays cheap (no Spark/pandas)
    if name == "process_sentence":
        from .matcher.core import process_sentence
        return process_sentence
    if name == "search":
        from .matcher.core import search
        return search
    if name == "build_dictionary":
        from .terminology.storage import build_dictionary
        return build_dictionary
    if name == "run_pipeline":
        from .pipeline.stages import run_pipeline
        return run_pipeline
    raise AttributeError(name)
