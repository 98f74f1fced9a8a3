"""The one credential check of the HTTP/h2c and Flight fronts: a bearer
token and/or HTTP Basic users, compared in constant time over UTF-8
bytes (``hmac.compare_digest`` on two ``str`` raises on non-ASCII input,
which would reject a correct unicode password with an error)."""

from __future__ import annotations

import base64
import hmac


def credential_scheme(
    authorization: str | None, token: str | None, basic_users: dict[str, str] | None
) -> str | None:
    """``"bearer"`` or ``"basic"`` when the ``Authorization`` value holds a
    valid credential of that scheme, else None. A scheme with nothing
    configured (``token``/``basic_users`` None) never matches."""
    a = authorization or ""
    if token is not None and a.lower().startswith("bearer "):
        scheme, given, expected = "bearer", a[7:].strip(), token
    elif basic_users is not None and a.lower().startswith("basic "):
        try:
            user, _, given = base64.b64decode(a[6:].strip()).decode().partition(":")
        except ValueError:  # malformed base64 or utf-8 (both ValueErrors)
            return None
        scheme, expected = "basic", basic_users.get(user)
        if expected is None:
            return None
    else:
        return None
    if hmac.compare_digest(given.encode("utf-8"), expected.encode("utf-8")):
        return scheme
    return None
