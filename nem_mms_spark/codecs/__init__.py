"""Pure-numpy codec kernels.

Each codec is a pair of module-level functions

    encode_<kind>(...) -> (payload: bytes, params: dict)
    decode_<kind>(payload, params, count) -> values

operating on numpy arrays (ints/floats/bools) or (data: uint8 ndarray,
offsets: int64 ndarray) pairs for strings/binary — the zero-copy shapes
of the pyarrow arrays the encode and decode tasks hold.  No Spark imports here: the
kernels are unit-testable standalone (reference analogue: the row->Arrow
builders in /root/reference/src/flatfile.rs:147-278, which delegate actual
encoding to parquet defaults — the gap this package fills).

Codec ids (the registry; reference ancestor: the DataType dispatch enum,
/root/reference/src/flatfile.rs:134-145):

    PLAIN            raw little-endian values / offsets+bytes
    DICT             np.unique dictionary + bit-packed codes
    RLE              run values + bit-packed run lengths
    FOR_BITPACK      frame-of-reference (min) + bit-packed deltas   [ints]
    DELTA_FOR_BITPACK first value + FOR+bitpack of successive diffs [ints]
    FSST             static symbol-table string compression (pair-merge
                     trained, <=8-byte symbols, escape code 0)      [bytes]
    WORD_DICT        space-tokenized dictionary coding (lossless on
                     arbitrary bytes; wins on natural text)         [bytes]
"""

from nem_mms_spark.codecs import registry as registry  # noqa: F401
from nem_mms_spark.codecs.registry import (  # noqa: F401
    decode_block,
    encode_block,
    candidate_codecs,
)
