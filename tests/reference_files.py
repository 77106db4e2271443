"""Where the analysis tests find the reference's own goldens, stop lists
and vocabularies, and the skip condition for a test that reads them.

These files belong to the Lucene checkout the engine is ported from
(``lucene/analysis/common/src``); the repository does not hold them. A
test that opens one is gated on that very file, so it runs unchanged
wherever the checkout is present and reports the missing path where it
is not.
"""

from __future__ import annotations

import os

import pytest

_COMMON = "/root/reference/lucene/analysis/common/src"

#: the reference's analysis unit tests (Java sources with the goldens,
#: full-vocabulary zips, hand-written expectation files)
TEST_ROOT = f"{_COMMON}/test/org/apache/lucene/analysis"
#: the reference's analysis resources (stop lists)
RESOURCES_ROOT = f"{_COMMON}/resources/org/apache/lucene/analysis"


def needs_reference(*paths: str):
    """``skipif`` mark that skips the test unless every one of ``paths``
    exists, naming the missing ones."""
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference file not found: {', '.join(missing)}"
    )
