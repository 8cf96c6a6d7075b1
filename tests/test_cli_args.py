"""CLI argument validation that must fail before any Spark session starts."""

from __future__ import annotations

import pytest

from dcc_validate_metadata_spark.__main__ import main


@pytest.mark.parametrize("n", ["0", "-2"])
def test_decode_rebalance_must_be_positive(n, capsys):
    with pytest.raises(SystemExit) as exc:
        main(["validate", "--input", "in", "--out", "out", "--decode-rebalance", n])
    assert exc.value.code == 2
    assert "--decode-rebalance" in capsys.readouterr().err
