"""Flag parsing shared by the tools: a flag given without a usable value
exits 2 with a "<flag> needs ..." message before any Spark JVM starts."""

from __future__ import annotations

import sys


def pop_flag(args: list[str], flag: str, default, needs: str, convert=str):
    """Remove `flag` and its value from `args` and return the value passed
    through `convert`; `default` when the flag is absent. A missing value,
    another flag in its place, or a value `convert` rejects exits 2."""
    if flag not in args:
        return default
    i = args.index(flag)
    val = args[i + 1] if i + 1 < len(args) else None
    try:
        if val is None or val.startswith("--"):
            raise ValueError(val)
        out = convert(val)
    except ValueError:
        print(f"{flag} needs {needs}, got {val!r}", file=sys.stderr)
        raise SystemExit(2) from None
    del args[i : i + 2]
    return out
