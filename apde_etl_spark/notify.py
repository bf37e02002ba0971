"""Notification subsystem (SURVEY.md §1.1 last row, §2.4 J7, §2.9 F9).

The reference keeps a 3-table normalized model — ``notify_msgs``
(self-referencing ``msg_parent`` for versioning), ``notify_addresses``,
and the ``notify_list`` join table (notify.R:679-682,483-487,649-653,
828-843) — resolves recipient lists with inner joins
(notify.R:596-602,646) and renders glue templates with caller variables
at send time (notify.R:72-78). Everything up to the rendered (subject,
body, recipients) triple is reproduced here on DataFrames +
``str.format``; delivery goes through an INJECTED transport callable
(:func:`send_message` + :func:`smtp_transport`) so the engine covers the
reference's full notify lifecycle while relay/credential specifics stay
with the caller.

These are tiny dimension tables: every join below broadcasts.

Reference CRUD parity note: the ``apde_notify_address_create/delete/
set`` and ``apde_notify_list_set`` management functions
(notify.R:828-1010) are single-row upserts/deletes on these dimension
tables — on the lake they are exactly
:func:`apde_etl_spark.sources.lifecycle.scd1_upsert` (upsert by
``address``/``list_name`` key) and a ``left_anti`` join (delete),
followed by an overwrite of the tiny table; no bespoke code is
warranted. The interactive ``apde_notify_menu`` and credential
handling (``apde_notify_set_cred``) are console/keyring machinery with
no engine analogue, deliberately out of scope like the reference's
other interactive prompts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apde_etl_spark.sources.readers import local_frame

MSGS_SCHEMA = (
    "msg_id long, msg_name string, msg_subject string, msg_body string, "
    "msg_parent long, created timestamp"
)
ADDRESSES_SCHEMA = "id long, address string"
LIST_SCHEMA = "list_name string, address_id long"


def resolve_recipients(
    notify_list: DataFrame, notify_addresses: DataFrame, list_name: str
) -> DataFrame:
    """J7 — ``notify_list ⋈ notify_addresses ON address_id = id`` for one
    list (notify.R:596-602). Returns distinct addresses."""
    return (
        notify_list.filter(F.col("list_name") == list_name)
        .join(
            F.broadcast(notify_addresses),
            notify_list.address_id == notify_addresses.id,
        )
        .select("address")
        .distinct()
    )


def current_message(notify_msgs: DataFrame, msg_name: str) -> DataFrame:
    """Newest version of a named template: versioning is append-only with
    ``msg_parent`` pointing at the superseded row (notify.R:679-682), so
    'current' = the row no other row claims as parent."""
    mine = notify_msgs.filter(F.col("msg_name") == msg_name)
    children = mine.filter(F.col("msg_parent").isNotNull()).select(
        F.col("msg_parent").alias("msg_id")
    )
    return mine.join(children, "msg_id", "left_anti")


def new_version(
    notify_msgs: DataFrame,
    msg_name: str,
    msg_subject: str,
    msg_body: str,
) -> DataFrame:
    """Append a new version whose ``msg_parent`` points at the current
    head (append + pointer update, notify.R:828-843). Returns the updated
    msgs DataFrame; the caller persists it."""
    spark = notify_msgs.sparkSession
    head = current_message(notify_msgs, msg_name).select("msg_id").collect()
    parent = head[0]["msg_id"] if head else None
    next_id = (notify_msgs.agg(F.max("msg_id")).collect()[0][0] or 0) + 1
    row = local_frame(
        spark,
        [(next_id, msg_name, msg_subject, msg_body, parent)],
        "msg_id long, msg_name string, msg_subject string, msg_body string, msg_parent long",
    ).withColumn("created", F.current_timestamp())
    return notify_msgs.unionByName(row)


_PLACEHOLDER = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def render_template(template: str, **vars: object) -> str:
    """F9 — glue::glue analogue (notify.R:72-78): substitute ``{var}``
    placeholders from caller variables; unknown placeholders raise, like
    glue does, instead of silently passing through."""
    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name not in vars:
            raise KeyError(f"template references undefined variable {name!r}")
        return str(vars[name])

    return _PLACEHOLDER.sub(sub, template)


@dataclass
class RenderedMessage:
    subject: str
    body: str
    recipients: list[str]


def prepare_message(
    spark: SparkSession,
    notify_msgs: DataFrame,
    notify_list: DataFrame,
    notify_addresses: DataFrame,
    msg_name: str,
    list_name: str,
    **vars: object,
) -> RenderedMessage:
    """End-to-end send-time assembly (sans transport): current template
    version + rendered subject/body + resolved recipient list."""
    head = current_message(notify_msgs, msg_name).collect()
    if not head:
        raise KeyError(f"no message template named {msg_name!r}")
    msg = head[0]
    recipients = [
        r["address"]
        for r in resolve_recipients(notify_list, notify_addresses, list_name).collect()
    ]
    return RenderedMessage(
        subject=render_template(msg["msg_subject"], **vars),
        body=render_template(msg["msg_body"], **vars),
        recipients=sorted(recipients),
    )


def smtp_transport(
    host: str = "localhost",
    port: int = 25,
    sender: str = "noreply@localhost",
    starttls: bool = False,
):
    """Build a transport callable for :func:`send_message` backed by the
    standard library's smtplib — the engine-side twin of the reference's
    actual send (notify.R:72-78 renders, the surrounding machinery hands
    the triple to the mail gateway). Environment-specific credentials/
    relays stay OUT of the engine: callers wrap or replace this callable
    (any ``Callable[[RenderedMessage], None]`` works), which is also what
    makes the send path testable with a recording fake."""
    def transport(msg: RenderedMessage) -> None:
        import smtplib
        from email.message import EmailMessage

        em = EmailMessage()
        em["Subject"] = msg.subject
        em["From"] = sender
        em["To"] = ", ".join(msg.recipients)
        em.set_content(msg.body)
        with smtplib.SMTP(host, port) as s:
            if starttls:
                s.starttls()
            s.send_message(em)

    return transport


def send_message(
    spark: SparkSession,
    notify_msgs: DataFrame,
    notify_list: DataFrame,
    notify_addresses: DataFrame,
    msg_name: str,
    list_name: str,
    transport,
    **vars: object,
) -> RenderedMessage:
    """The reference's full notify lifecycle (template head -> render ->
    recipients -> SEND): :func:`prepare_message` plus delivery through an
    injected ``transport: Callable[[RenderedMessage], None]``. Raises
    before attempting delivery when the recipient list is empty — a
    silent zero-recipient send is the classic notify bug. Returns the
    rendered message so callers can log/audit exactly what went out."""
    rendered = prepare_message(
        spark, notify_msgs, notify_list, notify_addresses,
        msg_name, list_name, **vars,
    )
    if not rendered.recipients:
        raise ValueError(
            f"send_message: list {list_name!r} resolved to zero recipients"
        )
    transport(rendered)
    return rendered
