"""WSGI face of the serving tier — closes literal parity with the
reference's deployment artifact (app.wsgi:1-3 exposes a module-level
``application`` for mod_wsgi/gunicorn/uwsgi; this module exposes the
same name over the same routes as ``serving.serve_wells_http``).

Same architecture as serving.py: the request path reads a precomputed
partitioned JSON export — no Spark, no database per request. ``/wells``
streams the same ~64 KiB blocks of spliced export lines through the
WSGI iterator (the server's equivalent of the threaded tier's chunked
transfer: memory stays bounded by one block),
``/wells?<key>=<value>`` prunes to one partition directory when the key
is the partition column, ``/`` ``/map`` ``/static/**`` serve the same
static files with the same realpath containment check.

Deployment: ``app.wsgi`` at the repo root builds ``application`` from
``$OWDW_EXPORT_DIR`` (and optional ``$OWDW_STATIC_DIR``) — point
mod_wsgi at it exactly as the reference's Apache config points at its
app.wsgi. Programmatic use: ``make_wsgi_app(export_dir)``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from urllib.parse import parse_qsl

from oil_wells_data_wrangling_spark.serving import (
    _CONTENT_TYPES,
    _iter_json_blocks,
)

_PKG_STATIC = os.path.join(os.path.dirname(__file__), "static")


def make_wsgi_app(export_dir: str, static_dir: str | None = None):
    """Build a WSGI callable serving the same surface as
    ``serve_wells_http`` over ``export_dir`` (an ``export_json``
    output)."""
    static_root = os.path.realpath(static_dir or _PKG_STATIC)

    def _static(name: str, start_response):
        path = os.path.realpath(os.path.join(static_root, name))
        # containment, not string-prefix games: realpath resolves ../
        # and symlink escapes before the comparison (serving.py rule)
        if not (path == static_root or path.startswith(static_root + os.sep)):
            return _error(start_response, "404 Not Found")
        try:
            with open(path, "rb") as f:
                body = f.read()
        except OSError:
            return _error(start_response, "404 Not Found")
        ext = os.path.splitext(path)[1].lower()
        start_response(
            "200 OK",
            [
                (
                    "Content-Type",
                    _CONTENT_TYPES.get(ext, "application/octet-stream"),
                ),
                ("Content-Length", str(len(body))),
            ],
        )
        return [body]

    def _error(start_response, status: str):
        body = status.encode("ascii")
        start_response(
            status,
            [
                ("Content-Type", "text/plain"),
                ("Content-Length", str(len(body))),
            ],
        )
        return [body]

    def _wells(environ, start_response) -> Iterator[bytes]:
        q = dict(parse_qsl(environ.get("QUERY_STRING", "")))
        partition = next(iter(q.items())) if q else None
        if not os.path.isdir(export_dir):
            yield from _error(start_response, "500 Internal Server Error")
            return
        start_response(
            "200 OK", [("Content-Type", "application/json")]
        )  # no Content-Length: the WSGI server streams the iterator
        yield from _iter_json_blocks(export_dir, partition)

    def application(environ, start_response):
        path = environ.get("PATH_INFO", "/")
        if path in ("/", "/index.html"):
            return _static("index.html", start_response)
        if path == "/map":
            return _static("map.html", start_response)
        if path.startswith("/static/"):
            return _static(path[len("/static/") :], start_response)
        if path == "/wells":
            return _wells(environ, start_response)
        return _error(start_response, "404 Not Found")

    return application


def application(environ, start_response):
    """mod_wsgi entry point, configured by environment (read lazily so
    importing the module never requires the export to exist): set
    ``OWDW_EXPORT_DIR`` to the ``export_json`` output directory and
    optionally ``OWDW_STATIC_DIR``."""
    export_dir = os.environ.get("OWDW_EXPORT_DIR")
    if not export_dir:
        body = b"OWDW_EXPORT_DIR is not set"
        start_response(
            "500 Internal Server Error",
            [
                ("Content-Type", "text/plain"),
                ("Content-Length", str(len(body))),
            ],
        )
        return [body]
    app = make_wsgi_app(export_dir, os.environ.get("OWDW_STATIC_DIR"))
    return app(environ, start_response)
