"""D4/D5 EXIF-rotation + resize/letterbox arithmetic (reference
``image_utils.py:59-168``) in functions/codecs.py."""

from __future__ import annotations

import numpy as np
import pytest

from amazon_textract_transformer_pipeline_spark.functions.codecs import (
    apply_exif_rotation_array,
    exif_rotation_angle,
    letterbox_array,
    letterbox_plan,
    resize_plan,
    stretch_resize_array,
)


def test_exif_orientation_dispatch():
    # image_utils.py:71-80: 3→180, 6→270, 8→90, everything else 0
    assert exif_rotation_angle(3) == 180
    assert exif_rotation_angle(6) == 270
    assert exif_rotation_angle(8) == 90
    for o in (None, 0, 1, 2, 4, 5, 7, 9):
        assert exif_rotation_angle(o) == 0


def test_exif_rotation_pixels():
    arr = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    r180, a = apply_exif_rotation_array(arr, 3)
    assert a == 180 and r180.shape == (2, 4, 3)
    assert (r180 == arr[::-1, ::-1]).all()
    r270, a = apply_exif_rotation_array(arr, 6)
    assert a == 270 and r270.shape == (4, 2, 3)  # expand=True swaps dims
    r90, a = apply_exif_rotation_array(arr, 8)
    assert a == 90 and r90.shape == (4, 2, 3)
    same, a = apply_exif_rotation_array(arr, 1)
    assert a == 0 and same is arr


def test_resize_plan_square_and_pair():
    assert resize_plan(640, 480, (224, 224)) == (224, 224)
    assert resize_plan(640, 480, 224, default_square=True) == (224, 224)
    assert resize_plan(640, 480, (100, 50)) == (100, 50)


def test_resize_plan_shortest_edge():
    # image_utils.py:135-155: shortest edge → size, aspect preserved, int()
    assert resize_plan(640, 480, 224, default_square=False) == \
        (int(224 * 640 / 480), 224)
    assert resize_plan(480, 640, 224, default_square=False) == \
        (224, int(224 * 640 / 480))
    # short edge already equal → original dims untouched
    assert resize_plan(480, 640, 480, default_square=False) == (480, 640)
    # max_size overrule: long edge capped, short recomputed via int()
    w, h = resize_plan(1000, 250, 200, default_square=False, max_size=400)
    # ishort=250→200, ilong=1000→800 > 400 → short=int(400*200/800)=100
    assert (w, h) == (400, 100)
    with pytest.raises(ValueError, match="strictly greater"):
        resize_plan(1000, 250, 200, default_square=False, max_size=200)


def test_letterbox_plan_centered():
    # image_utils.py:157-165: scale=min, truncating, floor-div centering
    nw, nh, ox, oy = letterbox_plan(640, 480, 224, 224)
    assert (nw, nh) == (224, 168)
    assert (ox, oy) == (0, (224 - 168) // 2)
    nw, nh, ox, oy = letterbox_plan(100, 300, 224, 224)
    assert (nw, nh) == (int(100 * 224 / 300), 224)
    assert ox == (224 - nw) // 2 and oy == 0


def test_letterbox_array_background_and_paste():
    arr = np.full((10, 20, 3), 200, dtype=np.uint8)
    out = letterbox_array(arr, 40, 40, color=(1, 2, 3))
    assert out.shape == (40, 40, 3)
    nw, nh, ox, oy = letterbox_plan(20, 10, 40, 40)
    assert (out[oy:oy + nh, ox:ox + nw] == 200).all()
    assert (out[0, 0] == [1, 2, 3]).all()  # background above the paste


def test_stretch_resize_exact_content():
    arr = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    up = stretch_resize_array(arr, 4, 4)
    assert up.shape == (4, 4, 3)
    assert (up[0, 0] == arr[0, 0]).all() and (up[3, 3] == arr[1, 1]).all()
