"""The codec family's one malformed-input contract.

Every public media decoder carries :func:`malformed_input`, so a
malformed blob raises ``ValueError`` and an out-of-scope feature
``NotImplementedError`` — nothing else. Every consumer catches
``MEDIA_ERRORS`` per row, so one bad blob becomes a skipped or error
row, never a failed Spark task. A leaf module, because ``multimodal``
imports the ``jpeg``, ``vp8l`` and ``flac`` codecs that carry it too.
"""

from __future__ import annotations

import functools

MEDIA_ERRORS = (ValueError, NotImplementedError)


def malformed_input(fmt: str):
    """Decorator: any exception other than ``MEDIA_ERRORS`` that the
    decoder lets escape (a truncated ``struct.unpack``, an index past
    the buffer, ``zlib.error``, a zero sampling factor) is re-raised
    as ``ValueError("corrupt <fmt> stream: <type>: <message>")``."""

    def wrap(decode):
        @functools.wraps(decode)
        def contained(*args, **kwargs):
            try:
                return decode(*args, **kwargs)
            except MEDIA_ERRORS:
                raise
            except Exception as ex:
                raise ValueError(
                    f"corrupt {fmt} stream: {type(ex).__name__}: {ex}"
                ) from ex

        return contained

    return wrap
