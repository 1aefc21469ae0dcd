"""``bench.py``'s reference clobber guard: a run may replace the
committed reference only when its steal is known and not above the
reference's (or 0.5%, whichever is higher)."""

from __future__ import annotations

import pytest

from bench import diverts_from_reference


@pytest.mark.parametrize(
    "prev_steal, new_steal, diverted",
    [
        (0.2, 0.3, False),  # both under the 0.5% floor
        (0.2, 0.5, False),
        (0.2, 0.6, True),
        (1.0, 0.9, False),  # cleaner than the reference
        (1.0, 1.0, False),
        (1.0, 1.1, True),
        (0.2, None, True),  # unknown steal counts as contended
        (None, None, True),
        (None, 3.0, False),  # a reference without steal may be replaced
    ],
)
def test_diverts_from_reference(prev_steal, new_steal, diverted):
    assert diverts_from_reference(prev_steal, new_steal) is diverted
