"""PPM codec round trips and header parsing."""

import numpy as np
import pytest

from lnex_spark.operators import media_codec as mc


RNG = np.random.default_rng(42)


@pytest.mark.parametrize("h,w", [(1, 1), (5, 9), (16, 32)])
def test_ppm_roundtrip(h, w):
    px = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert (mc.decode_ppm(mc.encode_ppm(px)) == px).all()


def test_ppm_header_with_comment():
    px = RNG.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    raw = b"P6\n# a netpbm comment line\n3 2\n255\n" + px.tobytes()
    assert (mc.decode_ppm(raw) == px).all()
