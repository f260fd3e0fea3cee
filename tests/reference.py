"""The reference's two event schemas as test data, and the gate for the
tests that run the reference checkout itself.

``tests/schemas/`` holds the repo's copies of the reference's
``user-events-schema.json`` and ``card-events-schema.json``, written
from FIXTURES.md §1.1/§1.2. Engine-only tests read them from here.
Tests that run the reference's ``main.py``/``main2.py`` as subprocesses
carry ``needs_reference``: they are skipped where the checkout is absent
and run wherever it is present; there ``test_reference_diff.py`` also
checks the copies against the checkout's files.
"""

from __future__ import annotations

import os

import pytest

REFERENCE_DIR = "/root/reference"
SCHEMA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "schemas")
SCHEMA_FILES = ("user-events-schema.json", "card-events-schema.json")
USERS_SCHEMA, CARDS_SCHEMA = (os.path.join(SCHEMA_DIR, s) for s in SCHEMA_FILES)

needs_reference = pytest.mark.skipif(
    not all(
        os.path.isfile(os.path.join(REFERENCE_DIR, s))
        for s in ("main.py", "main2.py")
    ),
    reason=f"reference checkout {REFERENCE_DIR} (main.py, main2.py) is absent",
)
