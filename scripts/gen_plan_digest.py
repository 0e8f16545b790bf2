"""Regenerate tests/plan_pins.py — the pinned plan record of every
registered query and every index build.

The pin is the one plan record: ``test_plan_digest_pinned`` fails when
a query's physical plan drifts from it, and the plan guards in
tests/test_plan_quality.py are predicates over the same records
(tests/plan_digest.py says what a record holds). A regeneration is a
reviewed diff: name every query whose pin moved, and why.

    python scripts/gen_plan_digest.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.conftest import SF_SMOKE, boot_test_session  # noqa: E402
from tests.plan_digest import digests  # noqa: E402

OUT = os.path.join(REPO, "tests", "plan_pins.py")

HEADER = '''"""Pinned plan records per registered query and index build —
GENERATED by scripts/gen_plan_digest.py; regenerate after a deliberate
plan change. test_plan_digest_pinned fails on any drift from this pin.
"""

PLAN_DIGEST: dict[str, str] = {
'''


def main() -> None:
    pins = digests(boot_test_session(), SF_SMOKE)
    with open(OUT, "w", encoding="utf-8") as f:
        f.write(HEADER)
        f.writelines(f"    {name!r}: {record!r},\n" for name, record in pins.items())
        f.write("}\n")
    print(f"wrote {len(pins)} plan records to {OUT}")


if __name__ == "__main__":
    main()
