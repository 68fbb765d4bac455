"""Alias of ``python tools/sweep.py oracle SF_DIR [QUERY ...]``: the
local DuckDB correctness gate."""
import sys

from sweep import main

if __name__ == "__main__":
    raise SystemExit(main(["oracle", *sys.argv[1:]]))
