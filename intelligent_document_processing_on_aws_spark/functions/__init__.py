"""Scalar Column-expression library (SURVEY §2.12)."""

from .scalars import (  # noqa: F401
    normalize_boolean,
    parse_uri,
    pipe_escape,
)
