"""Restricted reader for the pickled sketch images: frequent items
(``FQ01``), reservoir (``RS01``), priority sample (``VO01``) and
VarOpt (``VO02``).  Images arrive in BINARY columns, so a plain
``pickle.loads`` would call whatever callable an image names.
``load_image`` admits only the globals the writers emit — numpy's array
and scalar reconstructors, and the Python and pandas value types of
DATE, TIMESTAMP and DECIMAL items — and raises ``ValueError`` on any
other before it is called."""

from __future__ import annotations

import io
import pickle

_ALLOWED = frozenset({
    *((m, n) for m in ("numpy.core.multiarray", "numpy._core.multiarray")
      for n in ("_reconstruct", "scalar")),
    ("numpy", "ndarray"), ("numpy", "dtype"),
    *(("datetime", n) for n in ("date", "datetime", "time", "timedelta",
                                "timezone")),
    ("decimal", "Decimal"), ("pytz", "_UTC"), ("pytz", "_p"),
    # frequent items count through a pandas index
    ("pandas._libs.tslibs.timestamps", "_unpickle_timestamp"),
    ("pandas._libs.tslibs.timedeltas", "_timedelta_unpickle"),
})


class _ImageUnpickler(pickle.Unpickler):
    def find_class(self, module: str, name: str):
        if (module, name) not in _ALLOWED:
            raise ValueError(f"bad sketch image: global {module}.{name} "
                             "not allowed")
        return super().find_class(module, name)


def load_image(payload: bytes):
    """Unpickle an image payload, the bytes after its 4-byte tag."""
    return _ImageUnpickler(io.BytesIO(payload)).load()
