r"""Preset pattern registry and validation.

The preset regexes are the public log-format grammars from the reference
(`/root/reference/parser_regex.go:104-237`): Apache CLF (4 patterns),
Apache CLF + vhost (4), Amazon S3 access logs (5, trailing-truncation
fallbacks), CloudFront (1, tab-separated), ALB (1), NLB (1), CLB (2).
They are RE2 syntax and run on RE2 (Arrow's regex kernels), the engine
family of the reference's Go ``regexp``: first match wins, and ``\d``,
``\s``, ``\w`` are ASCII-only.

Validation mirrors ``AddPattern`` (`/root/reference/parser_regex.go:74-89`):
the pattern must compile under RE2, contain at least one capture group,
and every group must be named.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc

REGEX_PATTERN_ERROR = "invalid regex pattern"

# --- Apache CLF (parser_regex.go:110-115): space/tab x with/without referer+agent
APACHE_CLF = [
    r'^(?P<remote_host>\S+) (?P<remote_logname>\S+) (?P<remote_user>[\S ]+) (?P<datetime>\[[^\]]+\]) \"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\" (?P<status>[0-9]{3}) (?P<size>[0-9]+|-) "(?P<referer>[^\"]*)" "(?P<user_agent>[^\"]*)"',
    r'^(?P<remote_host>\S+) (?P<remote_logname>\S+) (?P<remote_user>[\S ]+) (?P<datetime>\[[^\]]+\]) \"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\" (?P<status>[0-9]{3}) (?P<size>[0-9]+|-)',
    '^(?P<remote_host>\\S+)\t(?P<remote_logname>\\S+)\t(?P<remote_user>[\\S ]+)\t(?P<datetime>\\[[^\\]]+\\])\t\\"(?P<method>[A-Z\\-]+) (?P<request_uri>[^ \\"]+) (?P<protocol>HTTP/[0-9.]+|-)\\"\t(?P<status>[0-9]{3})\t(?P<size>[0-9]+|-)\t"(?P<referer>[^\\"]*)"\t"(?P<user_agent>[^\\"]*)"',
    '^(?P<remote_host>\\S+)\t(?P<remote_logname>\\S+)\t(?P<remote_user>[\\S ]+)\t(?P<datetime>\\[[^\\]]+\\])\t\\"(?P<method>[A-Z\\-]+) (?P<request_uri>[^ \\"]+) (?P<protocol>HTTP/[0-9.]+|-)\\"\t(?P<status>[0-9]{3})\t(?P<size>[0-9]+|-)',
]

# --- Apache CLF with virtual host (parser_regex.go:131-136)
APACHE_CLF_VHOST = [
    r'^(?P<virtual_host>\S+) ' + APACHE_CLF[0][1:],
    r'^(?P<virtual_host>\S+) ' + APACHE_CLF[1][1:],
    '^(?P<virtual_host>\\S+)\t' + APACHE_CLF[2][1:],
    '^(?P<virtual_host>\\S+)\t' + APACHE_CLF[3][1:],
]

# --- Amazon S3 access log (parser_regex.go:152-158): 28/27/26/25/20-field
# trailing-truncation fallbacks; first match wins.
_S3_HEAD = (
    r'^(?P<bucket_owner>[!-~]+) (?P<bucket>[!-~]+) (?P<time>\[[^\]]+\]) '
    r'(?P<remote_ip>[!-~]+) (?P<requester>[!-~]+) (?P<request_id>[!-~]+) '
    r'(?P<operation>[!-~]+) (?P<key>[!-~]+) '
    r'\"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\" '
    r'(?P<http_status>\d{1,3}) (?P<error_code>[!-~]+) (?P<bytes_sent>[\d\-.]+) '
    r'(?P<object_size>[\d\-.]+) (?P<total_time>[\d\-.]+) (?P<turn_around_time>[\d\-.]+) '
    r'"(?P<referer>[^\"]*)" "(?P<user_agent>[^\"]*)" (?P<version_id>[!-~]+)'
)
_S3_TAIL = [
    ' (?P<host_id>[!-~]+)',
    ' (?P<signature_version>[!-~]+)',
    ' (?P<cipher_suite>[!-~]+)',
    ' (?P<authentication_type>[!-~]+)',
    ' (?P<host_header>[!-~]+)',
    ' (?P<tls_version>[!-~]+)',
    ' (?P<access_point_arn>[!-~]+)',
    ' (?P<acl_required>[!-~]+)',
]
S3 = [
    _S3_HEAD + ''.join(_S3_TAIL),        # 28 fields
    _S3_HEAD + ''.join(_S3_TAIL[:7]),    # 27
    _S3_HEAD + ''.join(_S3_TAIL[:6]),    # 26
    _S3_HEAD + ''.join(_S3_TAIL[:5]),    # 25
    _S3_HEAD,                            # 20
]

# --- CloudFront (parser_regex.go:175), tab-separated, 33 fields
CLOUDFRONT = [
    '^(?P<date>[\\d\\-.:]+)\t(?P<time>[\\d\\-.:]+)\t(?P<x_edge_location>[ -~]+)\t'
    '(?P<sc_bytes>[\\d\\-.]+)\t(?P<c_ip>[ -~]+)\t(?P<cs_method>[ -~]+)\t'
    '(?P<cs_host>[ -~]+)\t(?P<cs_uri_stem>[ -~]+)\t(?P<sc_status>\\d{1,3}|-)\t'
    '(?P<cs_referer>[^\\"]*)\t(?P<cs_user_agent>[^\\"]*)\t(?P<cs_uri_query>[ -~]+)\t'
    '(?P<cs_cookie>\\S+)\t(?P<x_edge_result_type>[ -~]+)\t(?P<x_edge_request_id>[ -~]+)\t'
    '(?P<x_host_header>[ -~]+)\t(?P<cs_protocol>[ -~]+)\t(?P<cs_bytes>[\\d\\-.]+)\t'
    '(?P<time_taken>[\\d\\-.]+)\t(?P<x_forwarded_for>[ -~]+)\t(?P<ssl_protocol>[ -~]+)\t'
    '(?P<ssl_cipher>[ -~]+)\t(?P<x_edge_response_result_type>[ -~]+)\t'
    '(?P<cs_protocol_version>[ -~]+)\t(?P<fle_status>[ -~]+)\t(?P<fle_encrypted_fields>\\S+)\t'
    '(?P<c_port>[\\d\\-.]+)\t(?P<time_to_first_byte>[\\d\\-.]+)\t'
    '(?P<x_edge_detailed_result_type>[ -~]+)\t(?P<sc_content_type>[ -~]+)\t'
    '(?P<sc_content_len>[\\d\\-.]+)\t(?P<sc_range_start>[\\d\\-.]+)\t(?P<sc_range_end>[\\d\\-.]+)'
]

# --- ALB (parser_regex.go:193), 31 fields
ALB = [
    r'^(?P<type>[!-~]+) (?P<time>[!-~]+) (?P<elb>[!-~]+) (?P<client_port>[!-~]+) '
    r'(?P<target_port>[!-~]+) (?P<request_processing_time>[\d\-.]+) '
    r'(?P<target_processing_time>[\d\-.]+) (?P<response_processing_time>[\d\-.]+) '
    r'(?P<elb_status_code>\d{1,3}|-) (?P<target_status_code>\d{1,3}|-) '
    r'(?P<received_bytes>[\d\-.]+) (?P<sent_bytes>[\d\-.]+) '
    r'\"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-|-)\" '
    r'"(?P<user_agent>[^\"]*)" (?P<ssl_cipher>[!-~]+) (?P<ssl_protocol>[!-~]+) '
    r'(?P<target_group_arn>[!-~]+) "(?P<trace_id>[ -~]+)" "(?P<domain_name>[ -~]+)" '
    r'"(?P<chosen_cert_arn>[ -~]+)" (?P<matched_rule_priority>[!-~]+) '
    r'(?P<request_creation_time>[!-~]+) "(?P<actions_executed>[ -~]+)" '
    r'"(?P<redirect_url>[ -~]+)" "(?P<error_reason>[ -~]+)" "(?P<target_port_list>[ -~]+)" '
    r'"(?P<target_status_code_list>[ -~]+)" "(?P<classification>[ -~]+)" '
    r'"(?P<classification_reason>[ -~]+)"'
]

# --- NLB (parser_regex.go:211), 22 fields
NLB = [
    r'^(?P<type>[!-~]+) (?P<version>[!-~]+) (?P<time>[!-~]+) (?P<elb>[!-~]+) '
    r'(?P<listener>[!-~]+) (?P<client_port>[!-~]+) (?P<destination_port>[!-~]+) '
    r'(?P<connection_time>[\d\-.]+) (?P<tls_handshake_time>[\d\-.]+) '
    r'(?P<received_bytes>[!-~]+) (?P<sent_bytes>[!-~]+) (?P<incoming_tls_alert>[!-~]+) '
    r'(?P<chosen_cert_arn>[!-~]+) (?P<chosen_cert_serial>[ -~]+) (?P<tls_cipher>\S+) '
    r'(?P<tls_protocol_version>[!-~]+) (?P<tls_named_group>[!-~]+) (?P<domain_name>[!-~]+) '
    r'(?P<alpn_fe_protocol>[!-~]+) (?P<alpn_be_protocol>[!-~]+) '
    r'(?P<alpn_client_preference_list>[ -~]+) (?P<tls_connection_creation_time>[!-~]+)'
]

# --- CLB (parser_regex.go:229-230), 17/14 fields
_CLB_HEAD = (
    r'^(?P<time>[!-~]+) (?P<elb>[!-~]+) (?P<client_port>[!-~]+) (?P<backend_port>[!-~]+) '
    r'(?P<request_processing_time>[\d\-.]+) (?P<backend_processing_time>[\d\-.]+) '
    r'(?P<response_processing_time>[\d\-.]+) (?P<elb_status_code>\d{1,3}|-) '
    r'(?P<backend_status_code>\d{1,3}|-) (?P<received_bytes>[\d\-.]+) (?P<sent_bytes>[\d\-.]+) '
    r'\"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\"'
)
CLB = [
    _CLB_HEAD + r' "(?P<user_agent>[^\"]*)" (?P<ssl_cipher>[!-~]+) (?P<ssl_protocol>[!-~]+)',
    _CLB_HEAD,
]

PRESETS: dict[str, list[str]] = {
    "apache_clf": APACHE_CLF,
    "apache_clf_vhost": APACHE_CLF_VHOST,
    "s3": S3,
    "cloudfront": CLOUDFRONT,
    "alb": ALB,
    "nlb": NLB,
    "clb": CLB,
}


class PatternError(ValueError):
    pass


_EMPTY = pa.array([], pa.string())


def validate_pattern(pattern: str) -> list[str]:
    r"""Validate one pattern the way ``AddPattern`` does
    (parser_regex.go:74-89) and return its group names in positional
    order (``SubexpNames()[1:]``).

    The pattern is compiled by RE2, the engine family of the reference's
    Go ``regexp``: ``extract_regex`` on an empty array raises on anything
    RE2 rejects (lookaround, backreferences, ``\Z``, atomic groups,
    possessive quantifiers) and on unnamed groups. Patterns with no
    capture group, and patterns that reuse a group name, are rejected
    here: the union schema keys columns by name, so a repeated name has
    no column of its own.
    """
    try:
        struct = pc.extract_regex(_EMPTY, pattern=pattern).type
    except pa.ArrowInvalid as e:
        msg = str(e)
        if "unnamed groups" in msg:
            raise PatternError(
                f"{REGEX_PATTERN_ERROR}: non-named capture group detected"
            ) from e
        msg = msg.removeprefix("Invalid regular expression: ")
        raise PatternError(f"{REGEX_PATTERN_ERROR}: {msg}") from e
    names = [f.name for f in struct]
    if not names:
        raise PatternError(f"{REGEX_PATTERN_ERROR}: capture group not found")
    dup = next((n for i, n in enumerate(names) if n in names[:i]), None)
    if dup is not None:
        raise PatternError(
            f"{REGEX_PATTERN_ERROR}: duplicate capture group name {dup!r}"
        )
    return names


# One character class, POSIX classes ``[:alpha:]`` and a leading literal
# ``]`` included.
_CLASS_RE = re.compile(r"\[\^?\]?(?:\[:\^?[a-z]+:\]|\\.|[^\]\\])*\]")


def _tabs_all_mandatory(src: str, in_class: list[bool]) -> bool:
    """True iff every literal tab outside a character class is MANDATORY:
    traversed at least once in every successful match. The tab-count
    guard's soundness argument needs this — a tab inside an optional /
    min-0-quantified group or inside any scope with an alternation ``|``
    may be skipped by a successful match, leaving a line tab for a greedy
    class to span even when the line's tab count equals ``n_tabs`` (the
    unsound case: twin rejects a line the original accepts). Lookaround
    needs no case: RE2 rejects it before a twin is derived.

    Single pass with a scope stack: a frame accumulates the tabs seen in
    its span; at ``)`` the frame's tabs are discarded as unsafe if the
    frame had a direct ``|`` or its quantifier allows zero traversals —
    otherwise they propagate to the parent (an outer scope may still
    invalidate them).
    """
    frames: list[dict] = [{"tabs": 0, "pipe": False}]
    i, n = 0, len(src)
    unsafe = False
    while i < n:
        if in_class[i]:
            i += 1
            continue
        ch = src[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "(":
            frames.append({"tabs": 0, "pipe": False})
            i += 1
            continue
        if ch == ")":
            if len(frames) == 1:  # unbalanced; be conservative
                return False
            fr = frames.pop()
            if fr["tabs"]:
                if fr["pipe"] or _min0(src, i + 1):
                    unsafe = True
                else:
                    frames[-1]["tabs"] += fr["tabs"]
            i += 1
            continue
        if ch == "|":
            frames[-1]["pipe"] = True
        elif ch == "\t":
            # A min-0 quantifier directly on the bare tab ("\t?", "\t*",
            # "\t{0,2}") makes it skippable — same unsoundness as a min-0
            # group.
            if _min0(src, i + 1):
                unsafe = True
            frames[-1]["tabs"] += 1
        i += 1
    if frames[-1]["pipe"] and frames[-1]["tabs"]:
        unsafe = True
    return not unsafe


def _min0(src: str, j: int) -> bool:
    """Whether the quantifier starting at ``src[j]`` allows zero repeats."""
    if j < len(src) and src[j] in "?*":
        return True
    m = re.match(r"\{(\d*)(?:,\d*)?\}", src[j:])
    return bool(m) and (m.group(1) == "" or int(m.group(1)) == 0)


def fast_twin(pattern: str) -> tuple[str, int] | None:
    """Derive an unambiguous twin for a tab-separated pattern.

    Greedy negated classes like ``[^\"]*`` may span tab separators, which
    makes the pattern ambiguous: RE2 then cannot extract submatches with
    its one-pass matcher and falls back to a slower one (~5x on the
    33-field CloudFront preset). If a line contains exactly as many tabs
    as the pattern has literal tab separators, every tab must be consumed
    by a separator literal in any successful match, so no class can span
    a tab — narrowing every negated class to exclude tab then accepts
    exactly the same lines with identical group values, and leftmost-first
    priority picks the same match. Returns ``(twin, n_separator_tabs)``;
    the caller must apply the twin only to lines whose tab count equals
    ``n_separator_tabs`` and use the original otherwise.

    Returns None when the pattern has no tab separators, already excludes
    tabs everywhere, has a tab inside a character class, or has any
    NON-MANDATORY literal tab — one inside an optional/min-0 group or an
    alternation scope (see :func:`_tabs_all_mandatory`: a skippable
    pattern tab breaks the "every line tab is consumed by a separator
    literal" step of the argument, so the twin could reject lines the
    original accepts).
    """
    src = pattern
    classes = list(_CLASS_RE.finditer(src))
    if any("\t" in m.group(0) or "\\t" in m.group(0) for m in classes):
        return None
    in_class = [False] * len(src)
    for m in classes:
        for i in range(m.start(), m.end()):
            in_class[i] = True
    n_tabs = sum(1 for i, ch in enumerate(src) if ch == "\t" and not in_class[i])
    if n_tabs == 0:
        return None
    if not _tabs_all_mandatory(src, in_class):
        return None
    # widen every negated class to also exclude tab
    out, changed = [], False
    pos = 0
    for m in classes:
        out.append(src[pos:m.start()])
        cls = m.group(0)
        if cls.startswith("[^"):
            cls = "[^\\t" + cls[2:]
            changed = True
        out.append(cls)
        pos = m.end()
    out.append(src[pos:])
    if not changed:
        return None
    return "".join(out), n_tabs


def union_schema(names: list[list[str]]) -> list[str]:
    """Union of the patterns' group names (as returned by
    :func:`validate_pattern`), preserving first-seen positional order.

    The widest preset pattern comes first in every preset, so for presets
    this equals pattern 0's field list.
    """
    seen: dict[str, None] = {}
    for ns in names:
        for name in ns:
            seen.setdefault(name)
    return list(seen)
