import calendar

import pytest
import sparkmon


def test_ui_timestamps_parse_to_epoch_seconds():
    base = calendar.timegm((2026, 10, 17, 3, 1, 36, 0, 0, 0))
    assert sparkmon._epoch("2026-10-17T03:01:36.695GMT") == pytest.approx(base + 0.695)
    assert sparkmon._epoch(None) is None
