"""``bench.py``'s reference clobber guard: a run may replace the
committed reference only when its steal is known and not above the
reference's (or 0.5%, whichever is higher), and only when it ran on
the core count the reference records."""

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
    assert diverts_from_reference(prev_steal, new_steal, 4, 4) is diverted


@pytest.mark.parametrize(
    "prev_cores, new_cores, prev_steal, new_steal, diverted",
    [
        (4, 4, 0.2, 0.3, False),
        (32, 4, 0.2, 0.3, True),  # a local[32] reference, a 4-core run
        (8, 4, 1.0, 0.1, True),  # cleaner, but on other cores
        (4, 32, 0.2, 0.3, True),
        (None, 4, 0.2, 0.3, True),  # the reference records no cores
        (None, 4, None, 3.0, True),
        (4, 4, None, 3.0, False),
        (4, 4, 0.2, 0.6, True),  # same cores, more contended
    ],
)
def test_diverts_on_core_count(prev_cores, new_cores, prev_steal, new_steal, diverted):
    assert (
        diverts_from_reference(prev_steal, new_steal, prev_cores, new_cores)
        is diverted
    )
