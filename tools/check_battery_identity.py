"""Identity witness for battery refactors (r14 split, VERDICT r13 task 3).

Prints the md5 over sorted (name, oracle_sql) pairs, the md5 over the
ORDERED name list (the driver window is the first 50), and the counts.
Run before and after any battery refactor; all three must be unchanged.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import (  # noqa: E402
    QUERIES,
    _WINDOW_PRIORITY,
)


def main() -> None:
    sorted_md5 = hashlib.md5(
        repr(sorted((n, s.oracle) for n, s in QUERIES.items())).encode()
    ).hexdigest()
    ordered_md5 = hashlib.md5(repr(list(QUERIES)).encode()).hexdigest()
    meta_md5 = hashlib.md5(
        repr(sorted((n, s.description, s.survey_ref)
                    for n, s in QUERIES.items())).encode()
    ).hexdigest()
    print(json.dumps({
        "n_entries": len(QUERIES),
        "n_window": len(_WINDOW_PRIORITY),
        "md5_sorted_name_oracle": sorted_md5,
        "md5_ordered_names": ordered_md5,
        "md5_sorted_name_desc_ref": meta_md5,
    }))


if __name__ == "__main__":
    main()
