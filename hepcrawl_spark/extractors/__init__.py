"""Per-format record extractors.

Each extractor is a pure-Python function ``bytes -> list[dict]`` (one
HEPRecord-shaped dict per record node found in the document), designed
to run over whole Arrow batches inside ``mapInPandas`` — the Spark side
never sees per-row Python UDFs.

Format registry: maps the ``format`` tag carried on a pages row to its
extractor callable.
"""

from __future__ import annotations

import inspect
from typing import Callable, Dict, List, Tuple

_REGISTRY: Dict[str, Tuple[Callable[..., List[dict]], bool]] = {}


def _accepts_url(fn) -> bool:
    """URL-awareness is decided once, at registration, from the
    signature: the second *positional* parameter must literally be
    named ``url``.  (``inspect.signature`` resolves wrappers and
    ``functools.partial``, unlike ``__code__.co_argcount``, and the
    name requirement stops a future two-arg extractor whose second
    argument is not a URL from silently receiving one.)"""
    try:
        params = list(inspect.signature(fn).parameters.values())
    except (TypeError, ValueError):
        return False
    positional = [
        p for p in params
        if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    return len(positional) > 1 and positional[1].name == "url"


def register(fmt: str):
    """Decorator: register ``fn(html_bytes[, url]) -> [record_dict]``."""
    def _wrap(fn):
        _REGISTRY[fmt] = (fn, _accepts_url(fn))
        return fn
    return _wrap


def get_extractor_entry(fmt: str):
    """(callable, url_aware) or None — the dispatch-side lookup."""
    return _REGISTRY.get(fmt)


def known_formats():
    return sorted(_REGISTRY)


def _load_all():
    """Import all extractor modules so their @register decorators run."""
    from . import arxiv_oai  # noqa: F401
    from . import html_generic  # noqa: F401
    from . import marc21  # noqa: F401
    from . import marc21_slim  # noqa: F401
    from . import dnb_splash  # noqa: F401
    from . import pex_dc  # noqa: F401
    from . import base_dc  # noqa: F401
    from . import json_aps  # noqa: F401
    from . import nlm  # noqa: F401
    from . import html_theses  # noqa: F401
    from . import json_brown  # noqa: F401
    from . import json_phil  # noqa: F401
    from . import edp  # noqa: F401
    from . import elsevier  # noqa: F401
    try:
        from . import jats  # noqa: F401
    except ImportError:
        pass


_load_all()
