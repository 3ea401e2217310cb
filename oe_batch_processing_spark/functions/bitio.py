"""Bit I/O for every codec: LSB-first (GIF LZW, WebP VP8L) and MSB-first
(JPEG, FLAC-lite, H.264). Pending bits live in one int accumulator, so a
field of any width is a shift and a mask. Readers raise
``ValueError("bitstream exhausted")`` past the end of the data."""

from __future__ import annotations


class LsbWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        """Little-endian field: lowest bit first."""
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def put_code(self, code: int, nbits: int) -> None:
        """Prefix-code bits go MSB-first into the LSB-first stream (the
        DEFLATE convention RFC 9649 shares): the decoder consumes them one
        at a time in stream order, extending code = code<<1 | bit. Writing
        the bit-reversed code as ONE LSB-first field emits the identical
        bit sequence in a single accumulator update."""
        rev = 0
        for _ in range(nbits):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.put(rev, nbits)

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


class LsbReader:
    """Buffered LSB-first reader: an int accumulator refilled bytewise
    makes get/peek O(1) in the number of calls, not bits — the decoder's
    hot path peeks a table-width window per symbol."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.byte_pos = 0
        self.buf = 0
        self.nbuf = 0
        self.total_bits = 8 * len(data)
        self.consumed = 0

    @property
    def pos(self) -> int:
        return self.consumed

    def _fill(self, need: int) -> None:
        while self.nbuf < need and self.byte_pos < len(self.data):
            self.buf |= self.data[self.byte_pos] << self.nbuf
            self.byte_pos += 1
            self.nbuf += 8

    def get(self, nbits: int) -> int:
        if self.consumed + nbits > self.total_bits:
            raise ValueError("bitstream exhausted")
        self._fill(nbits)
        v = self.buf & ((1 << nbits) - 1)
        self.buf >>= nbits
        self.nbuf -= nbits
        self.consumed += nbits
        return v

    def peek_lsb(self, nbits: int) -> int:
        """Next nbits in stream order as an LSB-first integer, zero-padded
        past end-of-stream; does not advance."""
        self._fill(nbits)
        return self.buf & ((1 << nbits) - 1)

    def advance(self, nbits: int) -> None:
        if self.consumed + nbits > self.total_bits:
            raise ValueError("bitstream exhausted")
        self._fill(nbits)
        self.buf >>= nbits
        self.nbuf -= nbits
        self.consumed += nbits


class MsbWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        """Big-endian field: highest bit first."""
        acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        n = self.n + nbits
        if n >= 8:
            rem = n & 7
            self.out += (acc >> rem).to_bytes(n >> 3, "big")
            acc &= (1 << rem) - 1
            n = rem
        self.acc, self.n = acc, n

    def bits_written(self) -> int:
        return 8 * len(self.out) + self.n

    def align(self, fill_bit: int) -> None:
        """Pad to the next byte boundary with copies of ``fill_bit``."""
        pad = -self.n % 8
        if pad:
            self.write((1 << pad) - 1 if fill_bit else 0, pad)

    def finish(self) -> bytes:
        """Zero-pad the last byte and return the stream."""
        self.align(0)
        return bytes(self.out)


class MsbReader:
    """Buffered MSB-first reader. ``buf`` holds ``nbuf`` pending bits in
    its low end; bits above them are stale and masked off on refill."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.byte_pos = 0
        self.buf = 0
        self.nbuf = 0

    @property
    def pos(self) -> int:
        return 8 * self.byte_pos - self.nbuf

    def read(self, nbits: int) -> int:
        n = self.nbuf
        if n < nbits:
            k = (nbits - n + 7) >> 3
            bp = self.byte_pos
            if bp + k > len(self.data):
                raise ValueError("bitstream exhausted")
            n += 8 * k
            fresh = int.from_bytes(self.data[bp:bp + k], "big")
            self.buf = ((self.buf << (8 * k)) | fresh) & ((1 << n) - 1)
            self.byte_pos = bp + k
        n -= nbits
        self.nbuf = n
        return (self.buf >> n) & ((1 << nbits) - 1)

    def read_bit(self) -> int:
        n = self.nbuf
        if not n:
            if self.byte_pos >= len(self.data):
                raise ValueError("bitstream exhausted")
            self.buf = self.data[self.byte_pos]
            self.byte_pos += 1
            n = 8
        n -= 1
        self.nbuf = n
        return (self.buf >> n) & 1

    def read_bytes(self, n: int) -> bytes:
        """``n`` whole bytes from a byte-aligned position (reads load only
        the bytes they need, so no whole byte is ever buffered)."""
        if self.nbuf:
            raise ValueError("read_bytes on unaligned reader")
        start = self.byte_pos
        if start + n > len(self.data):
            raise ValueError("bitstream exhausted")
        self.byte_pos = start + n
        return self.data[start:start + n]
