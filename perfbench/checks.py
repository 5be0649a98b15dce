"""Result digests and the pinned expectations they are compared with.

The digest is the one ``scripts/check_correctness.py`` compares Spark
with DuckDB by, taken from that script (``canon`` then ``value_hash``):
columns sorted by name, object values stringified, rows sorted by every
column, then the md5 of the CSV with floats printed at full precision
(``%.17g``). It is order-insensitive and has no tolerance.
"""

from __future__ import annotations

import json
import os

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")
#: the tables every batch op reads: a copy of the repository's sf0.1 test data
SF_DIR = os.path.join(HERE, "data", "sf0.1")


def digest(pdf: pd.DataFrame) -> dict:
    """``{"rows": n, "md5": hex}`` of a result frame."""
    # imported on first use: the script also imports pyspark and the
    # program, whose import time belongs to the first set-up
    from check_correctness import canon, value_hash

    return {"rows": len(pdf), "md5": value_hash(canon(pdf))}


def load_pins() -> dict[str, dict]:
    with open(PINS_PATH) as fh:
        return json.load(fh)["pins"]
