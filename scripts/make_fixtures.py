#!/usr/bin/env python3
"""Write the two small GraphMat reference graphs as binary mtx files.

The edges are the literals of FIXTURES.md section 2; the bytes are packed
here with `struct`, independently of `graft.sources.MtxReader`, so the
reader and writer tests check against data neither of them produced.

Layout: little-endian int32 header (m, n, nnz), then one (src, dst, val)
int32 triple per record, 1-based vertex ids.

usage: python3 scripts/make_fixtures.py [outDir]   (default src/test/resources/data)
"""
import os
import struct
import sys

TEST_EDGES = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 6), (3, 8),
              (4, 5), (4, 6), (4, 7), (5, 7), (6, 7), (6, 8)]

# The original test.bin.mtx carries one record past its nnz=13 header, which
# a reader honouring the header never decodes. Its content is not recorded;
# this stand-in is not one of the 13 edges, so a reader that reads to EOF
# decodes a 14th edge and fails the 8v/13e check.
TEST_TRAILING = (1, 8, 1)

RATINGS7 = [(1, 5, 1), (1, 7, 2), (2, 5, 2), (2, 7, 4),
            (3, 6, 2), (3, 7, 3), (4, 7, 3)]


def mtx_bytes(m, n, records, nnz=None):
    out = struct.pack('<3i', m, n, len(records) if nnz is None else nnz)
    for rec in records:
        out += struct.pack('<3i', *rec)
    return out


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else 'src/test/resources/data'
    os.makedirs(out, exist_ok=True)
    files = {
        # 8 x 8, header nnz=13, 14 records on disk
        'test.bin.mtx': mtx_bytes(
            8, 8, [(s, d, 1) for s, d in TEST_EDGES] + [TEST_TRAILING],
            nnz=len(TEST_EDGES)),
        # rectangular: rows 1-4 (users/docs) x columns up to 7 (items/terms)
        'ratings7.bin.mtx': mtx_bytes(4, 7, RATINGS7),
    }
    for name, data in files.items():
        with open(os.path.join(out, name), 'wb') as f:
            f.write(data)
        print(f'wrote {os.path.join(out, name)} ({len(data)} bytes)')


if __name__ == '__main__':
    main()
