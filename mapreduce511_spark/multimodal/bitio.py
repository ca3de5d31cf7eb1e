"""Bit packing for the pure-Python codecs. The class fixes the bit
order, so the hot loops never branch on the codec that calls them.

- ``LsbWriter``/``LsbReader``, least significant bit first, 0-bit
  padding, no stuffing: GIF LZW codes, and DEFLATE (RFC 1951 §3.1.1),
  which writes a Huffman code as ``write(_rev_bits(code, n), n)``.
- ``MsbWriter``/``MsbReader``, most significant bit first, 0-bit
  padding, no stuffing: FLAC, with Rice quotients in unary.
- ``JpegWriter``/``JpegReader``, the MSB pair under T.81 F.1.2.3:
  1-bit padding, a 0x00 stuffed after each entropy-coded 0xFF, and
  ``marker()`` bytes never stuffed. The reader unstuffs, fails on any
  marker inside entropy data, and takes RSTn only in ``restart()``.

Readers fetch a byte only when a bit is needed; ``align()`` drops the
< 8 bits left, and ``pos`` is then the next byte (``restart()``'s
marker). ``jpeg_arith.py`` keeps its own byte I/O: Annex D carries
into bytes already written and zero-fills past the end of data
(D.2.7), sharing no bit accumulator with these classes.
"""

from __future__ import annotations


class _Writer:
    PAD = 0x00  # the byte whose low bits fill out the last byte

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def align(self) -> None:
        if self.nbits:
            self.write(self.PAD, 8 - self.nbits)

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.buf)


class _Reader:
    def __init__(self, data: bytes, eof: str, pos: int = 0) -> None:
        self.data = data
        self.eof = eof  # the truncation error's message
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError(self.eof)
        self.pos += 1
        return self.data[self.pos - 1]

    def align(self) -> None:
        self.acc = 0
        self.nbits = 0


class LsbWriter(_Writer):
    def write(self, value: int, n: int) -> None:
        """``value`` must fit in ``n`` bits."""
        self.acc |= value << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8


class LsbReader(_Reader):
    def read(self, n: int) -> int:
        while self.nbits < n:  # _byte() inlined: the LZW decode hot loop
            if self.pos >= len(self.data):
                raise ValueError(self.eof)
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


class MsbWriter(_Writer):
    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        self.write(1, q + 1)  # q 0 bits, then a 1


class MsbReader(_Reader):
    def read(self, n: int) -> int:
        while self.nbits < n:
            self.acc = (self.acc << 8) | self._byte()
            self.nbits += 8
        self.nbits -= n
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= 1 << (n - 1) else v

    def read_unary(self) -> int:
        """Count 0 bits up to and including the next 1."""
        q = 0
        while not self.acc:  # every waiting bit is 0
            q += self.nbits
            self.acc, self.nbits = self._byte(), 8
        zeros = self.nbits - self.acc.bit_length()
        self.nbits -= zeros + 1
        self.acc &= (1 << self.nbits) - 1
        return q + zeros


class JpegWriter(MsbWriter):
    PAD = 0xFF

    def __init__(self) -> None:
        super().__init__()
        self.out = bytearray()  # stuffed entropy data and markers

    def _seal(self) -> None:
        self.align()
        self.out += self.buf.replace(b"\xff", b"\xff\x00")
        self.buf.clear()

    def marker(self, byte2: int) -> None:
        """Append the bare marker 0xFF ``byte2`` at a byte boundary."""
        self._seal()
        self.out += bytes((0xFF, byte2))

    def getvalue(self) -> bytes:
        self._seal()
        return bytes(self.out)


class JpegReader(MsbReader):
    def __init__(self, data: bytes) -> None:
        super().__init__(data, "JPEG entropy stream truncated")

    def _byte(self) -> int:
        b = MsbReader._byte(self)
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated at 0xFF")
            self.pos += 1
            if self.data[self.pos - 1]:
                raise ValueError(
                    f"unexpected marker 0xFF{self.data[self.pos - 1]:02X} in"
                    " entropy data (a restart marker is only legal at the"
                    " declared interval boundary)")
        return b

    def restart(self, expect: int) -> None:
        """Drop the padding bits, then consume RSTn, n == expect % 8."""
        self.align()
        nxt = self.data[self.pos:self.pos + 2]
        if len(nxt) < 2 or nxt[0] != 0xFF or not 0xD0 <= nxt[1] <= 0xD7:
            raise ValueError("expected a restart marker at the declared interval")
        if nxt[1] & 0x7 != expect & 0x7:
            raise ValueError(f"restart marker out of sequence (RST{nxt[1] & 0x7}, "
                             f"expected RST{expect & 0x7})")
        self.pos += 2

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            if (length, code) in table:
                return table[length, code]
        raise ValueError("invalid Huffman code in JPEG stream")
