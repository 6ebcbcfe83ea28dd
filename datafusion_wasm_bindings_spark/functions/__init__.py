"""SQL functions the engine registers in each session
(``shims.ensure_registered``); the DataFusion → Spark function-name
map itself lives in ``compat.py``."""
