"""``python -m substreams_sink_graph_load_spark``: the CLI, reporting a
fatal input (a ``ValueError``) in one line with exit status 1."""

import sys

from .cli import main

if __name__ == "__main__":
    try:
        code = main()
    except ValueError as exc:
        print(f"graphload-spark: error: {exc}", file=sys.stderr)
        code = 1
    raise SystemExit(code)
