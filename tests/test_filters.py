"""Codec conformance — vectors from the reference's doctests
(/root/reference/pdfminer/{ascii85,lzw,runlength}.py)."""
import numpy as np

from pdfminer_spark.pdf.filters import (apply_png_predictor, ascii85decode,
                                        asciihexdecode, lzwdecode,
                                        png_unfilter, rldecode)


def test_ascii85():
    assert ascii85decode(b'9jqo^BlbD-BleB1DJ+*+F(f,q') == b'Man is distinguished'
    assert ascii85decode(b'E,9)oF*2M7/c~>') == b'pleasure.'


def test_asciihex():
    assert asciihexdecode(b'61 62 2e6364   65') == b'ab.cde'
    assert asciihexdecode(b'61 62 2e6364   657>') == b'ab.cdep'
    assert asciihexdecode(b'7>') == b'p'


def test_lzw():
    assert lzwdecode(bytes.fromhex('800b6050220c0c8501')) == b'-----A---B'


def test_runlength():
    assert rldecode(b'\x05123456\xfa7\x04abcde\x80junk') == b'1234567777777abcde'


def test_png_up_predictor():
    # two rows of 4 bytes, PNG "Up": out[r] = cumsum of raw rows
    raw = bytes([2, 1, 2, 3, 4, 2, 10, 20, 30, 40])
    out = apply_png_predictor(12, 1, 4, 8, raw)
    assert out == bytes([1, 2, 3, 4, 11, 22, 33, 44])


def test_png_none_and_sub():
    raw = bytes([0, 5, 6, 7, 8]) + bytes([1, 1, 1, 1, 1])
    out = apply_png_predictor(11, 1, 4, 8, raw)
    assert out[:4] == bytes([5, 6, 7, 8])
    assert out[4:] == bytes([1, 2, 3, 4])


def test_png_all_up_fast_path_matches_the_row_loop():
    # all-Up rows take one uint8-wrapping cumulative sum; one trailing
    # None row sends the same rows through the per-row loop instead
    mat = np.random.RandomState(0).randint(0, 256, (64, 22)).astype(np.uint8)
    mat[:, 0] = 2
    looped = png_unfilter(np.vstack([mat, np.zeros((1, 22), np.uint8)]), 3)
    assert (png_unfilter(mat, 3) == looped[:-1]).all()
