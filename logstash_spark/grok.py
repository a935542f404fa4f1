"""Grok: named-pattern regex extraction, compiled once, run in the JVM.

Reference counterparts:
* filter — logstash-filter-grok:lib/logstash/filters/grok.rb
  (``match``, ``break_on_match``, ``keep_empty_captures``,
  ``tag_on_failure`` default ``["_grokparsefailure"]``, type
  conversions ``%{NUMBER:bytes:int}``);
* pattern library — logstash-patterns-core:patterns/legacy/grok-patterns
  (the named patterns below are an independently written, functionally
  equivalent set; name coverage is audited per upstream pattern file in
  tests/test_grok_manifest.py). Oniguruma dialect status (SURVEY §7
  risk, resolved round 4): possessive quantifiers (``a++``) and atomic
  groups (``(?>…)``) are native to both Python >= 3.11 ``re`` (which
  compiles the pattern and numbers its groups) and java.util.regex
  (which runs it); POSIX bracket classes (``[[:alpha:]]``) translate
  at compile time (``translate_posix_classes``); negated POSIX classes
  and named Oniguruma callouts remain unsupported with loud errors.

Spark mapping (SURVEY §2.4): each grok expression compiles at plan
time into ONE regex with numbered groups (``compile_grok``), and
``lower_multi_capture`` turns a pattern list into its Java spelling
plus the groups that feed each field. Execution is native: one
``rlike`` per pattern and one pass that extracts its groups
(``F.regexp_extract`` for one group, ``F.regexp_replace`` + ``split``
for several), in java.util.regex, whose ``\\w``/``\\d``/``\\s`` are
ASCII like the reference's Ruby classes. Dissect mappings compile to
the same form.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

GROK_FAILURE_TAG = "_grokparsefailure"

# Functionally-equivalent core pattern subset (written fresh; see module
# docstring). Keys match the public grok names so user patterns port 1:1.
CORE_PATTERNS: dict[str, str] = {
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "BASE10NUM": r"(?<![0-9.+-])(?:[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+))",
    "NUMBER": r"%{BASE10NUM}",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": r"(?:\"(?:\\.|[^\\\"])*\"|'(?:\\.|[^\\'])*')",
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    "IPV4": r"(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)",
    "IP": r"%{IPV4}",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    # legacy alias kept by upstream grok-patterns for old configs
    "HOST": r"%{HOSTNAME}",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": r"[a-zA-Z][a-zA-Z0-9_.+-=:]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    "TIME": r"(?!<[0-9])%{HOUR}:%{MINUTE}(?::%{SECOND})(?![0-9])",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo(?:rmation)?|INFO(?:RMATION)?|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "URIPROTO": r"[A-Za-z]([A-Za-z0-9+\-.]+)+",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "COMMONAPACHELOG": (
        r'%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} '
        r'\[%{HTTPDATE:timestamp}\] "(?:%{WORD:verb} %{NOTSPACE:request}'
        r'(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" '
        r'%{NUMBER:response} (?:%{NUMBER:bytes}|-)'
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
    # ---- numbers / ids ----
    "BASE16NUM": r"(?<![0-9A-Fa-f])(?:[+-]?(?:0x)?(?:[0-9A-Fa-f]+))",
    "BASE16FLOAT": r"\b(?<![0-9A-Fa-f.])(?:[+-]?(?:0x)?(?:(?:[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?)|(?:\.[0-9A-Fa-f]+)))\b",
    "BOOLEAN": r"(?:true|True|TRUE|false|False|FALSE)",
    # ---- mac addresses ----
    "CISCOMAC": r"(?:(?:[A-Fa-f0-9]{4}\.){2}[A-Fa-f0-9]{4})",
    "WINDOWSMAC": r"(?:(?:[A-Fa-f0-9]{2}-){5}[A-Fa-f0-9]{2})",
    "COMMONMAC": r"(?:(?:[A-Fa-f0-9]{2}:){5}[A-Fa-f0-9]{2})",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    # ---- ipv6 (grouped/compressed/v4-mapped forms) ----
    "IPV6": (
        r"(?:(?:(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4})"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){1,7}:)"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4})"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){1,5}(?::[0-9A-Fa-f]{1,4}){1,2})"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){1,4}(?::[0-9A-Fa-f]{1,4}){1,3})"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){1,3}(?::[0-9A-Fa-f]{1,4}){1,4})"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){1,2}(?::[0-9A-Fa-f]{1,4}){1,5})"
        r"|(?:[0-9A-Fa-f]{1,4}:(?::[0-9A-Fa-f]{1,4}){1,6})"
        r"|(?::(?:(?::[0-9A-Fa-f]{1,4}){1,7}|:))"
        r"|(?:::(?:[fF]{4}:)?%{IPV4}))"
    ),
    # ---- filesystem / tty / uri ----
    "UNIXPATH": r"(?:/[\w_%!$@:.,+~-]*)+",
    "TTY": r"(?:/dev/(?:pts|tty(?:[pq])?)(?:\w+)?(?:/\w+)?)",
    "WINPATH": r"(?:[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "URIHOSTPORT": r"%{IPORHOST}(?::%{POSINT})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # ---- dates / times (long tail) ----
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "ISO8601_SECOND": r"(?:%{SECOND}|60)",
    "TZ": r"(?:[A-Z]{3,4}|[PMCE][SD]T|UTC)",
    "NUMTZ": r"[+-]\d{4}",
    "DATE": r"(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM2}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    # ---- syslog family (linux-syslog pattern file equivalents) ----
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "SYSLOGBASE2": r"(?:%{SYSLOGTIMESTAMP:timestamp}|%{TIMESTAMP_ISO8601:timestamp8601}) (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource}+(?: %{SYSLOGPROG}:|)",
    "SYSLOGLINE": r"%{SYSLOGBASE2} %{GREEDYDATA:message}",
    "SYSLOGPAMSESSION": r"%{SYSLOGBASE} (?:%{DATA:pam_module}\()?%{DATA:pam_caller}\): session %{WORD:pam_session_state} for user %{USERNAME:username}(?: by %{GREEDYDATA:pam_by})?",
    "CRON_ACTION": r"[A-Z ]+",
    "CRONLOG": r"%{SYSLOGBASE} \(%{USER:user}\) %{CRON_ACTION:action} \(%{DATA:message}\)",
    # rfc5424 structured syslog
    "SYSLOG5424PRI": r"<%{NONNEGINT:syslog5424_pri}>",
    "SYSLOG5424SD": r"\[%{DATA}\]+",
    "SYSLOG5424BASE": r"%{SYSLOG5424PRI}%{NONNEGINT:syslog5424_ver} +(?:%{TIMESTAMP_ISO8601:syslog5424_ts}|-) +(?:%{IPORHOST:syslog5424_host}|-) +(?:%{NOTSPACE:syslog5424_app}|-) +(?:%{NOTSPACE:syslog5424_proc}|-) +(?:%{NOTSPACE:syslog5424_msgid}|-) +(?:%{SYSLOG5424SD:syslog5424_sd}|-|)",
    "SYSLOG5424LINE": r"%{SYSLOG5424BASE} +%{GREEDYDATA:syslog5424_msg}",
    # ---- java / jvm logs ----
    "JAVACLASS": r"(?:[a-zA-Z$_][a-zA-Z$_0-9]*\.)*[a-zA-Z$_][a-zA-Z$_0-9]*",
    "JAVAFILE": r"(?:[a-zA-Z$_0-9. -]+)",
    "JAVAMETHOD": r"(?:(?:<(?:cl)?init>)|[a-zA-Z$_][a-zA-Z$_0-9]*)",
    "JAVASTACKTRACEPART": r"\s+at %{JAVACLASS:class}\.%{JAVAMETHOD:method}\(%{JAVAFILE:file}(?::%{INT:line})?\)",
    "JAVATHREAD": r"(?:[A-Z]{2}-Processor[\d]+)",
    "JAVALOGMESSAGE": r"(?:.*)",
    "CATALINA_DATESTAMP": r"%{MONTH} %{MONTHDAY}, %{YEAR} %{HOUR}:%{MINUTE}:%{SECOND} (?:AM|PM)",
    "CATALINALOG": r"%{CATALINA_DATESTAMP:timestamp} %{JAVACLASS:class} %{JAVALOGMESSAGE:logmessage}",
    "TOMCAT_DATESTAMP": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:%{MINUTE}:%{SECOND}(?:[,.]%{NONNEGINT})? ?%{ISO8601_TIMEZONE}?",
    "TOMCATLOG": r"%{TOMCAT_DATESTAMP:timestamp} \| %{LOGLEVEL:level} \| %{JAVACLASS:class} - %{JAVALOGMESSAGE:logmessage}",
    # ---- haproxy (http frontend log) ----
    "HAPROXYTIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})",
    "HAPROXYDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{HAPROXYTIME}\.%{INT}",
    "HAPROXYCAPTUREDREQUESTHEADERS": r"%{DATA:captured_request_headers}",
    "HAPROXYCAPTUREDRESPONSEHEADERS": r"%{DATA:captured_response_headers}",
    "HAPROXYHTTPBASE": (
        r"%{IP:client_ip}:%{INT:client_port} \[%{HAPROXYDATE:accept_date}\] "
        r"%{NOTSPACE:frontend_name} %{NOTSPACE:backend_name}/%{NOTSPACE:server_name} "
        r"%{INT:time_request}/%{INT:time_queue}/%{INT:time_backend_connect}/%{INT:time_backend_response}/%{NOTSPACE:time_duration} "
        r"%{INT:http_status_code} %{NOTSPACE:bytes_read} %{DATA:captured_request_cookie} %{DATA:captured_response_cookie} "
        r"%{NOTSPACE:termination_state} %{INT:actconn}/%{INT:feconn}/%{INT:beconn}/%{INT:srvconn}/%{NOTSPACE:retries} "
        r"%{INT:srv_queue}/%{INT:backend_queue}(?: \{%{HAPROXYCAPTUREDREQUESTHEADERS}\})?(?: \{%{HAPROXYCAPTUREDRESPONSEHEADERS}\})? "
        r'"%{GREEDYDATA:http_request}"'
    ),
    "HAPROXYHTTP": r"(?:%{SYSLOGTIMESTAMP:syslog_timestamp}|%{TIMESTAMP_ISO8601:timestamp8601}) %{IPORHOST:syslog_server} %{SYSLOGPROG}: %{HAPROXYHTTPBASE}",
    # ---- misc infra ----
    "HTTPDERROR_DATE": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{YEAR}",
    "HTTPD20_ERRORLOG": r"\[%{HTTPDERROR_DATE:timestamp}\] \[%{LOGLEVEL:loglevel}\] (?:\[client %{IPORHOST:clientip}\] )?%{GREEDYDATA:errormsg}",
    "REDISTIMESTAMP": r"%{MONTHDAY} %{MONTH} %{TIME}",
    "REDISLOG": r"\[%{POSINT:pid}\] %{REDISTIMESTAMP:timestamp} \* ",
    "RUBY_LOGLEVEL": r"(?:DEBUG|FATAL|ERROR|WARN|INFO)",
    "RUBY_LOGGER": r"[DFEWI], \[%{TIMESTAMP_ISO8601:timestamp} #%{POSINT:pid}\] *%{RUBY_LOGLEVEL:loglevel} -- +%{DATA:progname}: %{GREEDYDATA:message}",
    "NAGIOSTIME": r"\[%{NUMBER:nagios_epoch}\]",
    "ELB_URIPATHPARAM": r"%{URIPATH:path}(?:%{URIPARAM:params})?",
    "ELB_URI": r"%{URIPROTO:proto}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST:urihost})?(?:%{ELB_URIPATHPARAM})?",
    # ---- aws access logs ----
    "ELB_REQUEST_LINE": r"(?:%{WORD:verb} %{ELB_URI:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})",
    "ELB_ACCESS_LOG": (
        r"%{TIMESTAMP_ISO8601:timestamp} %{NOTSPACE:elb} %{IP:clientip}:%{INT:clientport} "
        r"(?:(?:%{IP:backendip}:?:%{INT:backendport})|-) %{NUMBER:request_processing_time} "
        r"%{NUMBER:backend_processing_time} %{NUMBER:response_processing_time} "
        r"%{INT:response} %{INT:backend_response} %{INT:received_bytes} %{INT:bytes} "
        r'"%{ELB_REQUEST_LINE}"'
    ),
    "S3_REQUEST_LINE": r"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})",
    "S3_ACCESS_LOG": (
        r"%{WORD:owner} %{NOTSPACE:bucket} \[%{HTTPDATE:timestamp}\] %{IP:clientip} "
        r"%{NOTSPACE:requester} %{NOTSPACE:request_id} %{NOTSPACE:operation} %{NOTSPACE:key} "
        r'(?:"%{S3_REQUEST_LINE}"|-) (?:%{INT:response}|-) (?:-|%{NOTSPACE:error_code}) '
        r"(?:%{INT:bytes}|-) (?:%{INT:object_size}|-) (?:%{INT:request_time_ms}|-) "
        r'(?:%{INT:turnaround_time_ms}|-) (?:"%{DATA:referrer}"|-) (?:"%{DATA:agent}"|-)'
    ),
    # ---- mongodb 3.x+ ----
    "MONGO3_SEVERITY": r"\w",
    "MONGO3_COMPONENT": r"%{WORD}",
    "MONGO3_LOG": (
        r"%{TIMESTAMP_ISO8601:timestamp} %{MONGO3_SEVERITY:severity} "
        r"%{MONGO3_COMPONENT:component}\s+(?:\[%{DATA:context}\])? %{GREEDYDATA:message}"
    ),
    # ---- exim ----
    "EXIM_MSGID": r"[0-9A-Za-z]{6}-[0-9A-Za-z]{6}-[0-9A-Za-z]{2}",
    "EXIM_FLAGS": r"(?:<=|=>|->|\*>|\*\*|==|<>)",
    "EXIM_DATE": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{TIME}",
    "EXIM_PID": r"\[%{POSINT:pid}\]",
    # ---- postgresql stderr log prefix ----
    "POSTGRESQL": r"%{DATESTAMP:timestamp} %{TZ:tz} %{DATA:user_id} %{GREEDYDATA:connection_id} %{POSINT:pid}",
    # ---- squid proxy access log (squid pattern file equivalent) ----
    "SQUID3_STATUS": r"(?:%{POSINT:http_status}|0|000)",
    "SQUID3": (
        r"%{NUMBER:timestamp}\s+%{NUMBER:duration}\s%{IP:client_address}\s"
        r"%{WORD:cache_result}/%{SQUID3_STATUS}\s%{INT:bytes:int}\s"
        r"%{WORD:request_method}\s%{NOTSPACE:url}\s(?:%{NOTSPACE:user}|-)\s"
        r"%{WORD:hierarchy_code}/%{NOTSPACE:server}\s%{NOTSPACE:content_type}"
    ),
    # ---- zeek / bro TSV logs (bro pattern file equivalents) ----
    "BRO_BOOL": r"[TF]",
    "BRO_DATA": r"[^\t]+",
    "BRO_HTTP": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{INT:trans_depth}\t%{GREEDYDATA:method}\t%{GREEDYDATA:domain}\t%{GREEDYDATA:uri}\t"
        r"%{GREEDYDATA:referrer}\t%{GREEDYDATA:user_agent}\t%{NUMBER:request_body_len}\t"
        r"%{NUMBER:response_body_len}\t%{GREEDYDATA:status_code}\t%{GREEDYDATA:status_msg}\t"
        r"%{GREEDYDATA:info_code}\t%{GREEDYDATA:info_msg}\t%{GREEDYDATA:filename}\t"
        r"%{GREEDYDATA:bro_tags}\t%{GREEDYDATA:username}\t%{GREEDYDATA:password}\t"
        r"%{GREEDYDATA:proxied}\t%{GREEDYDATA:orig_fuids}\t%{GREEDYDATA:orig_mime_types}\t"
        r"%{GREEDYDATA:resp_fuids}\t%{GREEDYDATA:resp_mime_types}"
    ),
    "BRO_DNS": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{WORD:proto}\t%{INT:trans_id}\t%{GREEDYDATA:query}\t%{GREEDYDATA:qclass}\t"
        r"%{GREEDYDATA:qclass_name}\t%{GREEDYDATA:qtype}\t%{GREEDYDATA:qtype_name}\t"
        r"%{GREEDYDATA:rcode}\t%{GREEDYDATA:rcode_name}\t%{BRO_BOOL:AA}\t%{BRO_BOOL:TC}\t"
        r"%{BRO_BOOL:RD}\t%{BRO_BOOL:RA}\t%{NONNEGINT:Z}\t%{GREEDYDATA:answers}\t"
        r"%{GREEDYDATA:TTLs}\t%{BRO_BOOL:rejected}"
    ),
    "BRO_CONN": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{WORD:proto}\t%{GREEDYDATA:service}\t%{NUMBER:duration}\t%{NUMBER:orig_bytes}\t"
        r"%{NUMBER:resp_bytes}\t%{GREEDYDATA:conn_state}\t%{GREEDYDATA:local_orig}\t"
        r"%{GREEDYDATA:missed_bytes}\t%{GREEDYDATA:history}\t%{GREEDYDATA:orig_pkts}\t"
        r"%{GREEDYDATA:orig_ip_bytes}\t%{GREEDYDATA:resp_pkts}\t%{GREEDYDATA:resp_ip_bytes}\t"
        r"%{GREEDYDATA:tunnel_parents}"
    ),
    "BRO_FILES": (
        r"%{NUMBER:ts}\t%{NOTSPACE:fuid}\t%{IP:tx_hosts}\t%{IP:rx_hosts}\t%{NOTSPACE:conn_uids}\t"
        r"%{GREEDYDATA:source}\t%{GREEDYDATA:depth}\t%{GREEDYDATA:analyzers}\t"
        r"%{GREEDYDATA:mime_type}\t%{GREEDYDATA:filename}\t%{GREEDYDATA:duration}\t"
        r"%{GREEDYDATA:local_orig}\t%{GREEDYDATA:is_orig}\t%{GREEDYDATA:seen_bytes}\t"
        r"%{GREEDYDATA:total_bytes}\t%{GREEDYDATA:missing_bytes}\t%{GREEDYDATA:overflow_bytes}\t"
        r"%{GREEDYDATA:timedout}\t%{GREEDYDATA:parent_fuid}\t%{GREEDYDATA:md5}\t"
        r"%{GREEDYDATA:sha1}\t%{GREEDYDATA:sha256}\t%{GREEDYDATA:extracted}"
    ),
    # zeek: the MODERN (Zeek >= 3) TSV layouts, matching the upstream
    # ecs-v1 zeek pattern file — NOT aliases of the legacy BRO_* shapes:
    # http.log adds version/origin/orig_filenames/resp_filenames (and
    # drops the single filename column), dns.log adds rtt. ZEEK_CONN /
    # ZEEK_FILES are extensions beyond the upstream file (which carries
    # only http/dns) covering Zeek 3 defaults: conn.log adds local_resp,
    # files.log adds extracted_cutoff/extracted_size. Legacy-shaped logs
    # keep matching via the BRO_* names above.
    "ZEEK_BOOL": r"[TF]",
    "ZEEK_DATA": r"[^\t]+",
    "ZEEK_HTTP": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{INT:trans_depth}\t%{ZEEK_DATA:method}\t%{ZEEK_DATA:domain}\t%{ZEEK_DATA:uri}\t"
        r"%{ZEEK_DATA:referrer}\t%{ZEEK_DATA:version}\t%{ZEEK_DATA:user_agent}\t%{ZEEK_DATA:origin}\t"
        r"%{NUMBER:request_body_len}\t%{NUMBER:response_body_len}\t%{ZEEK_DATA:status_code}\t"
        r"%{ZEEK_DATA:status_msg}\t%{ZEEK_DATA:info_code}\t%{ZEEK_DATA:info_msg}\t"
        r"%{ZEEK_DATA:zeek_tags}\t%{ZEEK_DATA:username}\t%{ZEEK_DATA:password}\t"
        r"%{ZEEK_DATA:proxied}\t%{ZEEK_DATA:orig_fuids}\t%{ZEEK_DATA:orig_filenames}\t"
        r"%{ZEEK_DATA:orig_mime_types}\t%{ZEEK_DATA:resp_fuids}\t%{ZEEK_DATA:resp_filenames}\t"
        r"%{ZEEK_DATA:resp_mime_types}"
    ),
    "ZEEK_DNS": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{WORD:proto}\t%{INT:trans_id}\t%{ZEEK_DATA:rtt}\t%{ZEEK_DATA:query}\t%{ZEEK_DATA:qclass}\t"
        r"%{ZEEK_DATA:qclass_name}\t%{ZEEK_DATA:qtype}\t%{ZEEK_DATA:qtype_name}\t"
        r"%{ZEEK_DATA:rcode}\t%{ZEEK_DATA:rcode_name}\t%{ZEEK_BOOL:AA}\t%{ZEEK_BOOL:TC}\t"
        r"%{ZEEK_BOOL:RD}\t%{ZEEK_BOOL:RA}\t%{NONNEGINT:Z}\t%{ZEEK_DATA:answers}\t"
        r"%{ZEEK_DATA:TTLs}\t%{ZEEK_BOOL:rejected}"
    ),
    "ZEEK_CONN": (
        r"%{NUMBER:ts}\t%{NOTSPACE:uid}\t%{IP:orig_h}\t%{INT:orig_p}\t%{IP:resp_h}\t%{INT:resp_p}\t"
        r"%{WORD:proto}\t%{ZEEK_DATA:service}\t%{ZEEK_DATA:duration}\t%{ZEEK_DATA:orig_bytes}\t"
        r"%{ZEEK_DATA:resp_bytes}\t%{ZEEK_DATA:conn_state}\t%{ZEEK_DATA:local_orig}\t"
        r"%{ZEEK_DATA:local_resp}\t%{ZEEK_DATA:missed_bytes}\t%{ZEEK_DATA:history}\t"
        r"%{ZEEK_DATA:orig_pkts}\t%{ZEEK_DATA:orig_ip_bytes}\t%{ZEEK_DATA:resp_pkts}\t"
        r"%{ZEEK_DATA:resp_ip_bytes}\t%{ZEEK_DATA:tunnel_parents}"
    ),
    "ZEEK_FILES": (
        r"%{NUMBER:ts}\t%{NOTSPACE:fuid}\t%{ZEEK_DATA:tx_hosts}\t%{ZEEK_DATA:rx_hosts}\t"
        r"%{ZEEK_DATA:conn_uids}\t%{ZEEK_DATA:source}\t%{ZEEK_DATA:depth}\t%{ZEEK_DATA:analyzers}\t"
        r"%{ZEEK_DATA:mime_type}\t%{ZEEK_DATA:filename}\t%{ZEEK_DATA:duration}\t"
        r"%{ZEEK_DATA:local_orig}\t%{ZEEK_DATA:is_orig}\t%{ZEEK_DATA:seen_bytes}\t"
        r"%{ZEEK_DATA:total_bytes}\t%{ZEEK_DATA:missing_bytes}\t%{ZEEK_DATA:overflow_bytes}\t"
        r"%{ZEEK_DATA:timedout}\t%{ZEEK_DATA:parent_fuid}\t%{ZEEK_DATA:md5}\t"
        r"%{ZEEK_DATA:sha1}\t%{ZEEK_DATA:sha256}\t%{ZEEK_DATA:extracted}\t"
        r"%{ZEEK_DATA:extracted_cutoff}\t%{ZEEK_DATA:extracted_size}"
    ),
    # ---- nagios core log (nagios pattern file equivalents) ----
    "NAGIOS_TYPE_CURRENT_SERVICE_STATE": r"CURRENT SERVICE STATE",
    "NAGIOS_TYPE_CURRENT_HOST_STATE": r"CURRENT HOST STATE",
    "NAGIOS_TYPE_SERVICE_NOTIFICATION": r"SERVICE NOTIFICATION",
    "NAGIOS_TYPE_HOST_NOTIFICATION": r"HOST NOTIFICATION",
    "NAGIOS_TYPE_SERVICE_ALERT": r"SERVICE ALERT",
    "NAGIOS_TYPE_HOST_ALERT": r"HOST ALERT",
    "NAGIOS_TYPE_SERVICE_FLAPPING_ALERT": r"SERVICE FLAPPING ALERT",
    "NAGIOS_TYPE_HOST_FLAPPING_ALERT": r"HOST FLAPPING ALERT",
    "NAGIOS_TYPE_SERVICE_DOWNTIME_ALERT": r"SERVICE DOWNTIME ALERT",
    "NAGIOS_TYPE_HOST_DOWNTIME_ALERT": r"HOST DOWNTIME ALERT",
    "NAGIOS_TYPE_PASSIVE_SERVICE_CHECK": r"PASSIVE SERVICE CHECK",
    "NAGIOS_TYPE_PASSIVE_HOST_CHECK": r"PASSIVE HOST CHECK",
    "NAGIOS_TYPE_SERVICE_EVENT_HANDLER": r"SERVICE EVENT HANDLER",
    "NAGIOS_TYPE_HOST_EVENT_HANDLER": r"HOST EVENT HANDLER",
    "NAGIOS_TYPE_EXTERNAL_COMMAND": r"EXTERNAL COMMAND",
    "NAGIOS_TYPE_TIMEPERIOD_TRANSITION": r"TIMEPERIOD TRANSITION",
    "NAGIOS_EC_ENABLE_SVC_CHECK": r"ENABLE_SVC_CHECK",
    "NAGIOS_EC_DISABLE_SVC_CHECK": r"DISABLE_SVC_CHECK",
    "NAGIOS_EC_ENABLE_HOST_CHECK": r"ENABLE_HOST_CHECK",
    "NAGIOS_EC_DISABLE_HOST_CHECK": r"DISABLE_HOST_CHECK",
    "NAGIOS_EC_PROCESS_SERVICE_CHECK_RESULT": r"PROCESS_SERVICE_CHECK_RESULT",
    "NAGIOS_EC_PROCESS_HOST_CHECK_RESULT": r"PROCESS_HOST_CHECK_RESULT",
    "NAGIOS_EC_SCHEDULE_SERVICE_DOWNTIME": r"SCHEDULE_SERVICE_DOWNTIME",
    "NAGIOS_EC_SCHEDULE_HOST_DOWNTIME": r"SCHEDULE_HOST_DOWNTIME",
    "NAGIOS_WARNING": r"Warning:%{SPACE}%{GREEDYDATA:nagios_message}",
    "NAGIOS_CURRENT_SERVICE_STATE": r"%{NAGIOS_TYPE_CURRENT_SERVICE_STATE:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};%{DATA:nagios_statetype};%{DATA:nagios_statecode};%{GREEDYDATA:nagios_message}",
    "NAGIOS_CURRENT_HOST_STATE": r"%{NAGIOS_TYPE_CURRENT_HOST_STATE:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_state};%{DATA:nagios_statetype};%{DATA:nagios_statecode};%{GREEDYDATA:nagios_message}",
    "NAGIOS_SERVICE_NOTIFICATION": r"%{NAGIOS_TYPE_SERVICE_NOTIFICATION:nagios_type}: %{DATA:nagios_notifyname};%{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};%{DATA:nagios_contact};%{GREEDYDATA:nagios_message}",
    "NAGIOS_HOST_NOTIFICATION": r"%{NAGIOS_TYPE_HOST_NOTIFICATION:nagios_type}: %{DATA:nagios_notifyname};%{DATA:nagios_hostname};%{DATA:nagios_state};%{DATA:nagios_contact};%{GREEDYDATA:nagios_message}",
    "NAGIOS_SERVICE_ALERT": r"%{NAGIOS_TYPE_SERVICE_ALERT:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};%{DATA:nagios_statetype};%{DATA:nagios_attempt};%{GREEDYDATA:nagios_message}",
    "NAGIOS_HOST_ALERT": r"%{NAGIOS_TYPE_HOST_ALERT:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_state};%{DATA:nagios_statetype};%{DATA:nagios_attempt};%{GREEDYDATA:nagios_message}",
    "NAGIOS_SERVICE_FLAPPING_ALERT": r"%{NAGIOS_TYPE_SERVICE_FLAPPING_ALERT:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};%{GREEDYDATA:nagios_message}",
    "NAGIOS_HOST_FLAPPING_ALERT": r"%{NAGIOS_TYPE_HOST_FLAPPING_ALERT:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_state};%{GREEDYDATA:nagios_message}",
    "NAGIOS_SERVICE_DOWNTIME_ALERT": r"%{NAGIOS_TYPE_SERVICE_DOWNTIME_ALERT:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};%{GREEDYDATA:nagios_comment}",
    "NAGIOS_HOST_DOWNTIME_ALERT": r"%{NAGIOS_TYPE_HOST_DOWNTIME_ALERT:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_state};%{GREEDYDATA:nagios_comment}",
    "NAGIOS_PASSIVE_SERVICE_CHECK": r"%{NAGIOS_TYPE_PASSIVE_SERVICE_CHECK:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};%{GREEDYDATA:nagios_comment}",
    "NAGIOS_PASSIVE_HOST_CHECK": r"%{NAGIOS_TYPE_PASSIVE_HOST_CHECK:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_state};%{GREEDYDATA:nagios_comment}",
    "NAGIOS_SERVICE_EVENT_HANDLER": r"%{NAGIOS_TYPE_SERVICE_EVENT_HANDLER:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_state};%{DATA:nagios_statetype};%{DATA:nagios_event_handler_name}",
    "NAGIOS_HOST_EVENT_HANDLER": r"%{NAGIOS_TYPE_HOST_EVENT_HANDLER:nagios_type}: %{DATA:nagios_hostname};%{DATA:nagios_state};%{DATA:nagios_statetype};%{DATA:nagios_event_handler_name}",
    "NAGIOS_TIMEPERIOD_TRANSITION": r"%{NAGIOS_TYPE_TIMEPERIOD_TRANSITION:nagios_type}: %{DATA:nagios_service};%{NUMBER:nagios_unknown1};%{NUMBER:nagios_unknown2}",
    "NAGIOS_EC_LINE_ENABLE_SVC_CHECK": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_ENABLE_SVC_CHECK:nagios_command};%{DATA:nagios_hostname};%{DATA:nagios_service}",
    "NAGIOS_EC_LINE_DISABLE_SVC_CHECK": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_DISABLE_SVC_CHECK:nagios_command};%{DATA:nagios_hostname};%{DATA:nagios_service}",
    "NAGIOS_EC_LINE_ENABLE_HOST_CHECK": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_ENABLE_HOST_CHECK:nagios_command};%{DATA:nagios_hostname}",
    "NAGIOS_EC_LINE_DISABLE_HOST_CHECK": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_DISABLE_HOST_CHECK:nagios_command};%{DATA:nagios_hostname}",
    "NAGIOS_EC_LINE_PROCESS_SERVICE_CHECK_RESULT": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_PROCESS_SERVICE_CHECK_RESULT:nagios_command};%{DATA:nagios_hostname};%{DATA:nagios_service};%{DATA:nagios_check_result};%{GREEDYDATA:nagios_check_comment}",
    "NAGIOS_EC_LINE_PROCESS_HOST_CHECK_RESULT": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_PROCESS_HOST_CHECK_RESULT:nagios_command};%{DATA:nagios_hostname};%{DATA:nagios_check_result};%{GREEDYDATA:nagios_check_comment}",
    "NAGIOS_EC_LINE_SCHEDULE_SERVICE_DOWNTIME": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_SCHEDULE_SERVICE_DOWNTIME:nagios_command};%{DATA:nagios_hostname};%{DATA:nagios_service};%{NUMBER:nagios_start_time};%{NUMBER:nagios_end_time};%{NUMBER:nagios_fixed};%{NUMBER:nagios_trigger_id};%{NUMBER:nagios_duration};%{DATA:author};%{GREEDYDATA:comment}",
    "NAGIOS_EC_LINE_SCHEDULE_HOST_DOWNTIME": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_SCHEDULE_HOST_DOWNTIME:nagios_command};%{DATA:nagios_hostname};%{NUMBER:nagios_start_time};%{NUMBER:nagios_end_time};%{NUMBER:nagios_fixed};%{NUMBER:nagios_trigger_id};%{NUMBER:nagios_duration};%{DATA:author};%{GREEDYDATA:comment}",
    "NAGIOSLOGLINE": (
        r"%{NAGIOSTIME} (?:%{NAGIOS_WARNING}|%{NAGIOS_CURRENT_SERVICE_STATE}|"
        r"%{NAGIOS_CURRENT_HOST_STATE}|%{NAGIOS_SERVICE_NOTIFICATION}|"
        r"%{NAGIOS_HOST_NOTIFICATION}|%{NAGIOS_SERVICE_ALERT}|%{NAGIOS_HOST_ALERT}|"
        r"%{NAGIOS_SERVICE_FLAPPING_ALERT}|%{NAGIOS_HOST_FLAPPING_ALERT}|"
        r"%{NAGIOS_SERVICE_DOWNTIME_ALERT}|%{NAGIOS_HOST_DOWNTIME_ALERT}|"
        r"%{NAGIOS_PASSIVE_SERVICE_CHECK}|%{NAGIOS_PASSIVE_HOST_CHECK}|"
        r"%{NAGIOS_SERVICE_EVENT_HANDLER}|%{NAGIOS_HOST_EVENT_HANDLER}|"
        r"%{NAGIOS_TIMEPERIOD_TRANSITION}|%{NAGIOS_EC_LINE_ENABLE_SVC_CHECK}|"
        r"%{NAGIOS_EC_LINE_DISABLE_SVC_CHECK}|%{NAGIOS_EC_LINE_ENABLE_HOST_CHECK}|"
        r"%{NAGIOS_EC_LINE_DISABLE_HOST_CHECK}|"
        r"%{NAGIOS_EC_LINE_PROCESS_SERVICE_CHECK_RESULT}|"
        r"%{NAGIOS_EC_LINE_PROCESS_HOST_CHECK_RESULT}|"
        r"%{NAGIOS_EC_LINE_SCHEDULE_SERVICE_DOWNTIME}|"
        r"%{NAGIOS_EC_LINE_SCHEDULE_HOST_DOWNTIME})"
    ),
    # ---- bind9 query log ----
    "BIND9_TIMESTAMP": r"%{MONTHDAY}[-]%{MONTH}[-]%{YEAR} %{TIME}",
    "BIND9": (
        r"%{BIND9_TIMESTAMP:timestamp} queries: %{LOGLEVEL:loglevel}: client "
        r"%{IP:clientip}#%{POSINT:clientport} \(%{GREEDYDATA:query}\): query: "
        r"%{GREEDYDATA:query_2} IN %{GREEDYDATA:querytype} \(%{IP:dns}\)"
    ),
    # ---- bacula backup logs (bacula pattern file subset) ----
    "BACULA_TIMESTAMP": r"%{MONTHDAY}-%{MONTH}(?:-%{YEAR})? %{HOUR}:%{MINUTE}",
    "BACULA_HOST": r"[a-zA-Z0-9-]+",
    "BACULA_VOLUME": r"%{USER}",
    "BACULA_DEVICE": r"%{USER}",
    "BACULA_DEVICEPATH": r"%{UNIXPATH}",
    "BACULA_CAPACITY": r"%{INT}{1,3}(,%{INT}{3})*",
    "BACULA_VERSION": r"%{USER}",
    "BACULA_JOB": r"%{USER}",
    "BACULA_LOG_MAX_CAPACITY": r"User defined maximum volume capacity %{BACULA_CAPACITY:max_capacity} exceeded on device \"%{BACULA_DEVICE:device}\" \(%{BACULA_DEVICEPATH}\).?",
    "BACULA_LOG_END_VOLUME": r"End of medium on Volume \"%{BACULA_VOLUME:volume}\" Bytes=%{BACULA_CAPACITY} Blocks=%{BACULA_CAPACITY} at %{BACULA_TIMESTAMP}.",
    "BACULA_LOG_NEW_VOLUME": r"Created new Volume \"%{BACULA_VOLUME:volume}\" in catalog.",
    "BACULA_LOG_NEW_MOUNT": r"New volume \"%{BACULA_VOLUME:volume}\" mounted on device \"%{BACULA_DEVICE:device}\" \(%{BACULA_DEVICEPATH}\) at %{BACULA_TIMESTAMP}.",
    "BACULA_LOG_NOOPEN": r"\s*Cannot open %{DATA}: ERR=%{GREEDYDATA:berror}",
    "BACULA_LOG_NOJOBS": r"There are no more Jobs associated with Volume \"%{BACULA_VOLUME:volume}\". Marking it purged.",
    "BACULA_LOG_BEGIN_PRUNE_JOBS": r"Begin pruning Jobs older than %{INT} month %{INT} days .",
    "BACULA_LOG_BEGIN_PRUNE_FILES": r"Begin pruning Files.",
    "BACULA_LOG_PRUNED_JOBS": r"Pruned %{INT} Jobs* for client %{BACULA_HOST:client} from catalog.",
    "BACULA_LOG_PRUNED_FILES": r"Pruned Files from %{INT} Jobs* for client %{BACULA_HOST:client} from catalog.",
    "BACULA_LOG_ENDPRUNE": r"End auto prune.",
    "BACULA_LOG_STARTJOB": r"Start Backup JobId %{INT}, Job=%{BACULA_JOB:job}",
    "BACULA_LOG_CANCELLING": r"Cancelling duplicate JobId=%{INT}.",
    "BACULA_LOG_CLIENT_RBJ": r"shell command: run ClientRunBeforeJob \"%{GREEDYDATA:runjob}\"",
    "BACULA_LOG_DUPLICATE": r"Fatal error: JobId %{INT:duplicate} already running. Duplicate job not allowed.",
    "BACULA_LOG_NOPRUNE_JOBS": r"No Jobs found to prune.",
    "BACULA_LOG_NOPRUNE_FILES": r"No Files found to prune.",
    "BACULA_LOG_JOBEND": r"Job write elapsed time = %{DATA:elapsed}, Transfer rate = %{NUMBER} (K|M|G)? Bytes/second",
    # ---- postfix queue ids (community postfix pattern names) ----
    "POSTFIX_QUEUEID": r"(?:[0-9A-F]{6,}|[0-9a-zA-Z]{12,}|NOQUEUE)",
    "POSTFIX_RELAY": r"%{HOSTNAME:relay_host}\[%{IP:relay_ip}\](?::%{POSINT:relay_port})?",
    "POSTFIX_SMTP_DELIVERY": (
        r"%{POSTFIX_QUEUEID:queue_id}: to=<%{EMAILADDRESS:to}>, relay=%{POSTFIX_RELAY}, "
        r"delay=%{NUMBER:delay}, delays=%{DATA:delays}, dsn=%{DATA:dsn}, "
        r"status=%{WORD:status} %{GREEDYDATA:smtp_response}"
    ),
    # ---- rails 3+ request logs (rails pattern file equivalents) ----
    "RUUID": r"[a-fA-F0-9]{32}",
    "RCONTROLLER": r"(?P<controller>[^#]+)#(?P<action>\w+)",
    # (?m) dropped vs upstream: Python re requires global flags at
    # expression start; no ^/$ anchors are used, so behavior is identical
    "RAILS3HEAD": r"Started %{WORD:verb} \"%{URIPATHPARAM:request}\" for %{IPORHOST:clientip} at (?P<timestamp>%{YEAR}-%{MONTHNUM}-%{MONTHDAY} %{HOUR}:%{MINUTE}:%{SECOND} %{ISO8601_TIMEZONE})",
    "RPROCESSING": r"\W*Processing by %{RCONTROLLER} as (?P<format>\S+)(?:\W*Parameters: \{%{DATA:params}\}\W*)?",
    "RAILS3FOOT": r"Completed %{NUMBER:response}%{DATA} in %{NUMBER:totalms}ms %{RAILS3PROFILE}%{GREEDYDATA}",
    "RAILS3PROFILE": r"(?:\(Views: %{NUMBER:viewms}ms \| ActiveRecord: %{NUMBER:activerecordms}ms|\(ActiveRecord: %{NUMBER:activerecordms}ms)?",
    "RAILS3": r"%{RAILS3HEAD}(?:%{RPROCESSING})?(?P<context>(?:%{DATA}\n)*)(?:%{RAILS3FOOT})?",
    # ---- redis monitor log ----
    "REDISMONLOG": r"%{NUMBER:timestamp} \[%{INT:database} %{IP:client}:%{NUMBER:port}\] \"%{WORD:command}\"\s?%{GREEDYDATA:params}",
    # ---- mcollective ----
    "MCOLLECTIVEAUDIT": r"%{TIMESTAMP_ISO8601:timestamp}:",
    "MCOLLECTIVE": r"., \[%{TIMESTAMP_ISO8601:timestamp} #%{POSINT:pid}\]%{SPACE}%{LOGLEVEL:event_level}",
    # ---- core long tail (grok-patterns file equivalents) ----
    "URN": r"urn:[0-9A-Za-z][0-9A-Za-z-]{0,31}:(?:%[0-9A-Fa-f]{2}|[0-9A-Za-z()+,.:=@;$_!*'/?#-])+",
    "SYSLOG5424PRINTASCII": r"[!-~]+",
    # httpd aliases + 2.4 error log (httpd pattern file equivalents)
    "HTTPD_COMMONLOG": r"%{COMMONAPACHELOG}",
    "HTTPD_COMBINEDLOG": r"%{COMBINEDAPACHELOG}",
    "HTTPD24_ERRORLOG": (
        r"\[%{HTTPDERROR_DATE:timestamp}\] \[(?:%{WORD:module})?:%{LOGLEVEL:loglevel}\] "
        r"\[pid %{POSINT:pid}(?::tid %{INT:tid})?\]"
        r"(?: \(%{POSINT:proxy_errorcode}\)%{DATA:proxy_message}:)?"
        r"(?: \[client %{IPORHOST:clientip}:%{POSINT:clientport}\])?"
        r"(?: %{DATA:errorcode}:)? %{GREEDYDATA:message}"
    ),
    "HTTPD_ERRORLOG": r"(?:%{HTTPD20_ERRORLOG}|%{HTTPD24_ERRORLOG})",
    # ---- maven ----
    "MAVEN_VERSION": r"(?:(\d+)\.)?(?:(\d+)\.)?(\*|\d+)(?:[.-](?:RELEASE|SNAPSHOT))?",
    # ---- haproxy tcp frontend log ----
    "HAPROXYTCP": (
        r"(?:%{SYSLOGTIMESTAMP:syslog_timestamp}|%{TIMESTAMP_ISO8601:timestamp8601}) "
        r"%{IPORHOST:syslog_server} %{SYSLOGPROG}: %{IP:client_ip}:%{INT:client_port} "
        r"\[%{HAPROXYDATE:accept_date}\] %{NOTSPACE:frontend_name} "
        r"%{NOTSPACE:backend_name}/%{NOTSPACE:server_name} "
        r"%{INT:time_queue}/%{INT:time_backend_connect}/%{NOTSPACE:time_duration} "
        r"%{NOTSPACE:bytes_read} %{NOTSPACE:termination_state} "
        r"%{INT:actconn}/%{INT:feconn}/%{INT:beconn}/%{INT:srvconn}/%{NOTSPACE:retries} "
        r"%{INT:srv_queue}/%{INT:backend_queue}"
    ),
    # ---- aws cloudfront (tab-separated access log) ----
    "CLOUDFRONT_ACCESS_LOG": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}\t%{TIME}\t%{WORD:x_edge_location}\t"
        r"(?:%{NUMBER:sc_bytes}|-)\t%{IPORHOST:clientip}\t%{WORD:cs_method}\t"
        r"%{HOSTNAME:cs_host}\t%{NOTSPACE:cs_uri_stem}\t%{NUMBER:sc_status}\t"
        r"%{DATA:referrer}\t%{DATA:agent}\t%{DATA:cs_uri_query}\t%{DATA:cookies}\t"
        r"%{WORD:x_edge_result_type}\t%{NOTSPACE:x_edge_request_id}\t"
        r"%{HOSTNAME:x_host_header}\t%{URIPROTO:cs_protocol}\t(?:%{INT:cs_bytes}|-)\t"
        r"%{DATA:time_taken}\t%{DATA:x_forwarded_for}\t%{DATA:ssl_protocol}\t"
        r"%{DATA:ssl_cipher}\t%{GREEDYDATA:x_edge_response_result_type}"
    ),
    # ---- mongodb 2.x (mongodb pattern file equivalents) ----
    "MONGO_WORDDASH": r"\b[\w-]+\b",
    "MONGO_LOG": r"%{SYSLOGTIMESTAMP:timestamp} \[%{WORD:component}\] %{GREEDYDATA:message}",
    "MONGO_QUERY": r"\{ (?<=\{ ).*(?= \} ntoreturn:) \}",
    "MONGO_SLOWQUERY": (
        r"%{WORD} %{MONGO_WORDDASH:database}\.%{MONGO_WORDDASH:collection} %{WORD}: "
        r"%{MONGO_QUERY:query} %{WORD}:%{NONNEGINT:ntoreturn} %{WORD}:%{NONNEGINT:ntoskip} "
        r"%{WORD}:%{NONNEGINT:nscanned}.*? nreturned:%{NONNEGINT:nreturned}.*? %{INT:duration}ms"
    ),
    # ---- exim long tail ----
    "EXIM_QT": r"((\d+y)?(\d+w)?(\d+d)?(\d+h)?(\d+m)?(\d+s)?)",
    "EXIM_EXCLUDE_TERMS": (
        r"(Message is frozen|(Start|End) queue run| Warning: | retry time not reached "
        r"| no (IP address|host name) found for (IP address|host) "
        r"| unexpected disconnection while reading SMTP command from "
        r"| no immediate delivery: |another process is handling this message)"
    ),
    "EXIM_REMOTE_HOST": r"(H=(%{NOTSPACE:remote_hostname} )?(\(%{NOTSPACE:remote_heloname}\) )?\[%{IP:remote_host}\])",
    "EXIM_INTERFACE": r"(I=\[%{IP:exim_interface}\](:%{NUMBER:exim_interface_port}))",
    "EXIM_PROTOCOL": r"(P=%{NOTSPACE:protocol})",
    "EXIM_MSG_SIZE": r"(S=%{NUMBER:exim_msg_size})",
    "EXIM_HEADER_ID": r"(id=%{NOTSPACE:exim_header_id})",
    "EXIM_SUBJECT": r"(T=%{QS:exim_subject})",
    # ---- juniper junos RT_FLOW (junos pattern file equivalents) ----
    "RT_FLOW_EVENT": r"(RT_FLOW_SESSION_CREATE|RT_FLOW_SESSION_CLOSE|RT_FLOW_SESSION_DENY)",
    "RT_FLOW1": (
        r"%{RT_FLOW_EVENT:event}: %{GREEDYDATA:close_reason}: "
        r"%{IP:src_ip}/%{INT:src_port}->%{IP:dst_ip}/%{INT:dst_port} %{DATA:service} "
        r"%{IP:nat_src_ip}/%{INT:nat_src_port}->%{IP:nat_dst_ip}/%{INT:nat_dst_port} "
        r"%{DATA:src_nat_rule_name} %{DATA:dst_nat_rule_name} %{INT:protocol_id} "
        r"%{DATA:policy_name} %{DATA:from_zone} %{DATA:to_zone} %{INT:session_id} "
        r"\d+\(%{DATA:sent}\) \d+\(%{DATA:received}\) %{INT:elapsed_time} .*"
    ),
    "RT_FLOW2": (
        r"%{RT_FLOW_EVENT:event}: session created "
        r"%{IP:src_ip}/%{INT:src_port}->%{IP:dst_ip}/%{INT:dst_port} %{DATA:service} "
        r"%{IP:nat_src_ip}/%{INT:nat_src_port}->%{IP:nat_dst_ip}/%{INT:nat_dst_port} "
        r"%{DATA:src_nat_rule_name} %{DATA:dst_nat_rule_name} %{INT:protocol_id} "
        r"%{DATA:policy_name} %{DATA:from_zone} %{DATA:to_zone} %{INT:session_id} .*"
    ),
    "RT_FLOW3": (
        r"%{RT_FLOW_EVENT:event}: session denied "
        r"%{IP:src_ip}/%{INT:src_port}->%{IP:dst_ip}/%{INT:dst_port} %{DATA:service} "
        r"%{INT:protocol_id}\(\d\) %{DATA:policy_name} %{DATA:from_zone} %{DATA:to_zone} .*"
    ),
    # ---- firewalls: cisco ASA syslog (firewalls pattern file equivalents;
    # message bodies written fresh from the published ASA syslog message
    # format catalogue) ----
    "CISCOTIMESTAMP": r"%{MONTH} +%{MONTHDAY}(?: %{YEAR})? %{TIME}",
    "CISCOTAG": r"[A-Z0-9]+-%{INT}-(?:[A-Z0-9_]+)",
    "CISCO_TAGGED_SYSLOG": r"^<%{POSINT:syslog_pri}>%{CISCOTIMESTAMP:timestamp}( %{SYSLOGHOST:sysloghost})? ?: %%{CISCOTAG:ciscotag}:",
    "CISCO_ACTION": r"(?:Built|Teardown|Deny|Denied|denied|requested|permitted|denied by ACL|discarded|est-allowed|Dropping|created|deleted)",
    "CISCO_REASON": r"(?:Duplicate TCP SYN|Failed to locate egress interface|Invalid transport field|No matching connection|DNS Response|DNS Query|(?:%{WORD}\s*)*)",
    "CISCO_DIRECTION": r"(?:Inbound|inbound|Outbound|outbound)",
    "CISCO_INTERVAL": r"(?:first hit|%{INT}-second interval)",
    "CISCO_XLATE_TYPE": r"(?:static|dynamic)",
    "CISCOFW104001": r"\((?:Primary|Secondary)\) Switching to ACTIVE - %{GREEDYDATA:switch_reason}",
    "CISCOFW104002": r"\((?:Primary|Secondary)\) Switching to STANDBY - %{GREEDYDATA:switch_reason}",
    "CISCOFW104003": r"\((?:Primary|Secondary)\) Switching to FAILED\.",
    "CISCOFW104004": r"\((?:Primary|Secondary)\) Switching to OK\.",
    "CISCOFW105003": r"\((?:Primary|Secondary)\) Monitoring on [Ii]nterface %{GREEDYDATA:interface_name} waiting",
    "CISCOFW105004": r"\((?:Primary|Secondary)\) Monitoring on [Ii]nterface %{GREEDYDATA:interface_name} normal",
    "CISCOFW105005": r"\((?:Primary|Secondary)\) Lost Failover communications with mate on [Ii]nterface %{GREEDYDATA:interface_name}",
    "CISCOFW105008": r"\((?:Primary|Secondary)\) Testing [Ii]nterface %{GREEDYDATA:interface_name}",
    "CISCOFW105009": r"\((?:Primary|Secondary)\) Testing on [Ii]nterface %{GREEDYDATA:interface_name} (?:Passed|Failed)",
    "CISCOFW106001": (
        r"%{CISCO_DIRECTION:direction} %{WORD:protocol} connection %{CISCO_ACTION:action} "
        r"from %{IP:src_ip}/%{INT:src_port} to %{IP:dst_ip}/%{INT:dst_port} "
        r"flags %{GREEDYDATA:tcp_flags} on interface %{GREEDYDATA:interface}"
    ),
    "CISCOFW106006_106007_106010": (
        r"%{CISCO_ACTION:action} %{CISCO_DIRECTION:direction} %{WORD:protocol} "
        r"(?:from|src) %{IP:src_ip}/%{INT:src_port}(\(%{DATA:src_fwuser}\))? "
        r"(?:to|dst) %{IP:dst_ip}/%{INT:dst_port}(\(%{DATA:dst_fwuser}\))? "
        r"(?:(?:on interface %{DATA:interface})|(?:due to %{CISCO_REASON:reason}))"
    ),
    "CISCOFW106014": (
        r"%{CISCO_ACTION:action} %{CISCO_DIRECTION:direction} %{WORD:protocol} "
        r"src %{DATA:src_interface}:%{IP:src_ip}(\(%{DATA:src_fwuser}\))? "
        r"dst %{DATA:dst_interface}:%{IP:dst_ip}(\(%{DATA:dst_fwuser}\))? "
        r"\(type %{INT:icmp_type}, code %{INT:icmp_code}\)"
    ),
    "CISCOFW106015": (
        r"%{CISCO_ACTION:action} %{WORD:protocol} \(%{DATA:policy_id}\) "
        r"from %{IP:src_ip}/%{INT:src_port} to %{IP:dst_ip}/%{INT:dst_port} "
        r"flags %{DATA:tcp_flags}  on interface %{GREEDYDATA:interface}"
    ),
    "CISCOFW106021": (
        r"%{CISCO_ACTION:action} %{WORD:protocol} reverse path check "
        r"from %{IP:src_ip} to %{IP:dst_ip} on interface %{GREEDYDATA:interface}"
    ),
    "CISCOFW106023": (
        r"%{CISCO_ACTION:action}(?: protocol)? %{WORD:protocol} "
        r"src %{DATA:src_interface}:%{DATA:src_ip}(/%{INT:src_port})?(\(%{DATA:src_fwuser}\))? "
        r"dst %{DATA:dst_interface}:%{DATA:dst_ip}(/%{INT:dst_port})?(\(%{DATA:dst_fwuser}\))?"
        r"( \(type %{INT:icmp_type}, code %{INT:icmp_code}\))? "
        r"by access-group \"?%{DATA:policy_id}\"? \[%{DATA:hashcode1}, %{DATA:hashcode2}\]"
    ),
    "CISCOFW106100_2_3": (
        r"access-list %{NOTSPACE:policy_id} %{CISCO_ACTION:action} %{WORD:protocol} "
        r"for user '%{DATA:src_fwuser}' %{DATA:src_interface}/%{IP:src_ip}\(%{INT:src_port}\) "
        r"-> %{DATA:dst_interface}/%{IP:dst_ip}\(%{INT:dst_port}\) "
        r"hit-cnt %{INT:hit_count} %{CISCO_INTERVAL:interval} \[%{DATA:hashcode1}, %{DATA:hashcode2}\]"
    ),
    "CISCOFW106100": (
        r"access-list %{NOTSPACE:policy_id} %{CISCO_ACTION:action} %{WORD:protocol} "
        r"%{DATA:src_interface}/%{IP:src_ip}\(%{INT:src_port}\)(\(%{DATA:src_fwuser}\))? "
        r"-> %{DATA:dst_interface}/%{IP:dst_ip}\(%{INT:dst_port}\)(\(%{DATA:dst_fwuser}\))? "
        r"hit-cnt %{INT:hit_count} %{CISCO_INTERVAL:interval} \[%{DATA:hashcode1}, %{DATA:hashcode2}\]"
    ),
    "CISCOFW304001": r"%{IP:src_ip}(\(%{DATA:src_fwuser}\))? Accessed URL %{IP:dst_ip}:%{GREEDYDATA:dst_url}",
    "CISCOFW110002": (
        r"%{CISCO_REASON:reason} for %{WORD:protocol} from %{DATA:src_interface}:"
        r"%{IP:src_ip}/%{INT:src_port} to %{IP:dst_ip}/%{INT:dst_port}"
    ),
    "CISCOFW302010": r"%{INT:connection_count} in use, %{INT:connection_count_max} most used",
    "CISCOFW302013_302014_302015_302016": (
        r"%{CISCO_ACTION:action}(?: %{CISCO_DIRECTION:direction})? %{WORD:protocol} connection "
        r"%{INT:connection_id} for %{DATA:src_interface}:%{IP:src_ip}/%{INT:src_port}"
        r"( \(%{IP:src_mapped_ip}/%{INT:src_mapped_port}\))?(\(%{DATA:src_fwuser}\))? to "
        r"%{DATA:dst_interface}:%{IP:dst_ip}/%{INT:dst_port}"
        r"( \(%{IP:dst_mapped_ip}/%{INT:dst_mapped_port}\))?(\(%{DATA:dst_fwuser}\))?"
        r"( duration %{TIME:duration} bytes %{INT:bytes})?(?: %{CISCO_REASON:reason})?"
        r"( \(%{DATA:user}\))?"
    ),
    "CISCOFW302020_302021": (
        r"%{CISCO_ACTION:action}(?: %{CISCO_DIRECTION:direction})? %{WORD:protocol} connection "
        r"for faddr %{IP:dst_ip}/%{INT:icmp_seq_num}(?:\(%{DATA:fwuser}\))? "
        r"gaddr %{IP:src_xlated_ip}/%{INT:icmp_code_xlated} "
        r"laddr %{IP:src_ip}/%{INT:icmp_code}( \(%{DATA:user}\))?"
    ),
    "CISCOFW305011": (
        r"%{CISCO_ACTION:action} %{CISCO_XLATE_TYPE:xlate_type} %{WORD:protocol} translation "
        r"from %{DATA:src_interface}:%{IP:src_ip}(/%{INT:src_port})?(\(%{DATA:src_fwuser}\))? "
        r"to %{DATA:src_xlated_interface}:%{IP:src_xlated_ip}/%{DATA:src_xlated_port}"
    ),
    "CISCOFW313001_313004_313008": (
        r"%{CISCO_ACTION:action} %{WORD:protocol} type=%{INT:icmp_type}, code=%{INT:icmp_code} "
        r"from %{IP:src_ip} on interface %{DATA:interface}( to %{IP:dst_ip})?"
    ),
    "CISCOFW313005": (
        r"%{CISCO_REASON:reason} for %{WORD:protocol} error message: %{WORD:err_protocol} "
        r"src %{DATA:err_src_interface}:%{IP:err_src_ip}(\(%{DATA:err_src_fwuser}\))? "
        r"dst %{DATA:err_dst_interface}:%{IP:err_dst_ip}(\(%{DATA:err_dst_fwuser}\))? "
        r"\(type %{INT:err_icmp_type}, code %{INT:err_icmp_code}\) on %{DATA:interface} interface\."
        r"  Original IP payload: %{WORD:protocol2} "
        r"src %{IP:orig_src_ip}/%{INT:orig_src_port}(\(%{DATA:orig_src_fwuser}\))? "
        r"dst %{IP:orig_dst_ip}/%{INT:orig_dst_port}(\(%{DATA:orig_dst_fwuser}\))?"
    ),
    "CISCOFW321001": r"Resource '%{WORD:resource_name}' limit of %{POSINT:resource_limit} reached for system",
    "CISCOFW402117": (
        r"%{WORD:protocol}: Received a non-IPSec packet \(protocol= %{WORD:orig_protocol}\) "
        r"from %{IP:src_ip} to %{IP:dst_ip}"
    ),
    "CISCOFW402119": (
        r"%{WORD:protocol}: Received an %{WORD:orig_protocol} packet "
        r"\(SPI= %{DATA:spi}, sequence number= %{DATA:seq_num}\) from %{IP:src_ip} "
        r"\(user= %{DATA:user}\) to %{IP:dst_ip} that failed anti-replay checking"
    ),
    "CISCOFW419001": (
        r"%{CISCO_ACTION:action} %{WORD:protocol} packet from %{DATA:src_interface}:"
        r"%{IP:src_ip}/%{INT:src_port} to %{DATA:dst_interface}:%{IP:dst_ip}/%{INT:dst_port}, "
        r"reason: %{GREEDYDATA:reason}"
    ),
    "CISCOFW419002": (
        r"%{CISCO_REASON:reason} from %{DATA:src_interface}:%{IP:src_ip}/%{INT:src_port} "
        r"to %{DATA:dst_interface}:%{IP:dst_ip}/%{INT:dst_port} "
        r"with different initial sequence number"
    ),
    "CISCOFW500004": (
        r"%{CISCO_REASON:reason} for protocol=%{WORD:protocol}, "
        r"from %{IP:src_ip}/%{INT:src_port} to %{IP:dst_ip}/%{INT:dst_port}"
    ),
    "CISCOFW602303_602304": (
        r"%{WORD:protocol}: An %{CISCO_DIRECTION:direction} %{DATA:tunnel_type} SA "
        r"\(SPI= %{DATA:spi}\) between %{IP:src_ip} and %{IP:dst_ip} \(user= %{DATA:user}\) "
        r"has been %{CISCO_ACTION:action}"
    ),
    "CISCOFW710001_710002_710003_710005_710006": (
        r"%{WORD:protocol} (?:request|access) %{CISCO_ACTION:action} from "
        r"%{IP:src_ip}/%{INT:src_port} to %{DATA:dst_interface}:%{IP:dst_ip}/%{INT:dst_port}"
    ),
    "CISCOFW713172": (
        r"Group = %{DATA:group}, IP = %{IP:src_ip}, Automatic NAT Detection Status:\s+"
        r"Remote end\s*%{DATA:is_remote_natted}\s*behind a NAT device\s+"
        r"This\s+end\s*%{DATA:is_local_natted}\s*behind a NAT device"
    ),
    "CISCOFW733100": (
        r"\[\s*%{DATA:drop_type}\s*\] drop %{DATA:drop_rate_id} exceeded. "
        r"Current burst rate is %{INT:drop_rate_current_burst} per second, "
        r"max configured rate is %{INT:drop_rate_max_burst}; "
        r"Current average rate is %{INT:drop_rate_current_avg} per second, "
        r"max configured rate is %{INT:drop_rate_max_avg}; "
        r"Cumulative total count is %{INT:drop_total_count}"
    ),
    # ---- firewalls: netfilter front-ends ----
    "NETSCREENSESSIONLOG": (
        r"%{SYSLOGTIMESTAMP:date} %{IPORHOST:device} %{IPORHOST}: "
        r"NetScreen device_id=%{WORD:device_id}%{DATA}: "
        r"start_time=%{QUOTEDSTRING:start_time} duration=%{INT:duration} "
        r"policy_id=%{INT:policy_id} service=%{DATA:service} proto=%{INT:proto} "
        r"src zone=%{WORD:src_zone} dst zone=%{WORD:dst_zone} action=%{WORD:action} "
        r"sent=%{INT:sent} rcvd=%{INT:rcvd} src=%{IPORHOST:src_ip} dst=%{IPORHOST:dst_ip}"
        r"(?: src_port=%{INT:src_port} dst_port=%{INT:dst_port})?"
        r"(?: src-xlated ip=%{IP:src_xlated_ip} port=%{INT:src_xlated_port} "
        r"dst-xlated ip=%{IP:dst_xlated_ip} port=%{INT:dst_xlated_port})?"
        r"(?: session_id=%{INT:session_id} reason=%{GREEDYDATA:reason})?"
    ),
    "SHOREWALL": (
        r"(?:%{SYSLOGTIMESTAMP:timestamp}) (?:%{WORD:nf_host}) .*Shorewall:"
        r"(?:%{WORD:nf_action1})?:(?:%{WORD:nf_action2})?.*"
        r"IN=(?:%{NOTSPACE:nf_in_interface})?.*OUT= *"
        r"MAC=(?:%{NOTSPACE:nf_dst_mac}):(?:%{NOTSPACE:nf_src_mac})?.*"
        r"SRC=(?:%{IPV4:nf_src_ip}).*DST=(?:%{IPV4:nf_dst_ip}).*"
        r"LEN=(?:%{WORD:nf_len}).*?TOS=(?:%{WORD:nf_tos}).*?PREC=(?:%{WORD:nf_prec}).*?"
        r"TTL=(?:%{INT:nf_ttl}).*?ID=(?:%{INT:nf_id}).*?PROTO=(?:%{WORD:nf_protocol})"
        r"(?:.*?SPT=(?:%{INT:nf_src_port}).*?DPT=(?:%{INT:nf_dst_port}).*)?"
    ),
    "SFW2": (
        r"((?:%{SYSLOGTIMESTAMP})|(?:%{TIMESTAMP_ISO8601}))\s*%{HOSTNAME}\s*kernel\S+\s*"
        r"%{NAGIOSTIME}\s*SFW2-INext-%{NOTSPACE:nf_action}\s*IN=%{USERNAME:nf_in_interface}.*"
        r"OUT=(?:%{USERNAME:nf_out_interface})?\s*"
        r"MAC=(?:%{COMMONMAC:nf_dst_mac}:%{COMMONMAC:nf_src_mac})?.*"
        r"SRC=%{IP:nf_src_ip}\s*DST=%{IP:nf_dst_ip}.*PROTO=%{WORD:nf_protocol}"
        r"(?:.*SPT=%{INT:nf_src_port}.*DPT=%{INT:nf_dst_port}.*)?"
    ),
    # ---- nagios external-command long tail (notification toggles) ----
    "NAGIOS_EC_ENABLE_SVC_NOTIFICATIONS": r"ENABLE_SVC_NOTIFICATIONS",
    "NAGIOS_EC_DISABLE_SVC_NOTIFICATIONS": r"DISABLE_SVC_NOTIFICATIONS",
    "NAGIOS_EC_ENABLE_HOST_NOTIFICATIONS": r"ENABLE_HOST_NOTIFICATIONS",
    "NAGIOS_EC_DISABLE_HOST_NOTIFICATIONS": r"DISABLE_HOST_NOTIFICATIONS",
    "NAGIOS_EC_ENABLE_HOST_SVC_NOTIFICATIONS": r"ENABLE_HOST_SVC_NOTIFICATIONS",
    "NAGIOS_EC_DISABLE_HOST_SVC_NOTIFICATIONS": r"DISABLE_HOST_SVC_NOTIFICATIONS",
    "NAGIOS_EC_LINE_ENABLE_SVC_NOTIFICATIONS": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_ENABLE_SVC_NOTIFICATIONS:nagios_command};%{DATA:nagios_hostname};%{GREEDYDATA:nagios_service}",
    "NAGIOS_EC_LINE_DISABLE_SVC_NOTIFICATIONS": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_DISABLE_SVC_NOTIFICATIONS:nagios_command};%{DATA:nagios_hostname};%{GREEDYDATA:nagios_service}",
    "NAGIOS_EC_LINE_ENABLE_HOST_NOTIFICATIONS": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_ENABLE_HOST_NOTIFICATIONS:nagios_command};%{GREEDYDATA:nagios_hostname}",
    "NAGIOS_EC_LINE_DISABLE_HOST_NOTIFICATIONS": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_DISABLE_HOST_NOTIFICATIONS:nagios_command};%{GREEDYDATA:nagios_hostname}",
    "NAGIOS_EC_LINE_ENABLE_HOST_SVC_NOTIFICATIONS": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_ENABLE_HOST_SVC_NOTIFICATIONS:nagios_command};%{GREEDYDATA:nagios_hostname}",
    "NAGIOS_EC_LINE_DISABLE_HOST_SVC_NOTIFICATIONS": r"%{NAGIOS_TYPE_EXTERNAL_COMMAND:nagios_type}: %{NAGIOS_EC_DISABLE_HOST_SVC_NOTIFICATIONS:nagios_command};%{GREEDYDATA:nagios_hostname}",
    # ---- bacula long tail ----
    "BACULA_LOG_NEW_LABEL": r"Labeled new Volume \"%{BACULA_VOLUME:volume}\" on device \"%{BACULA_DEVICE:device}\" \(%{BACULA_DEVICEPATH}\).",
    "BACULA_LOG_WROTE_LABEL": r"Wrote label to prelabeled Volume \"%{BACULA_VOLUME:volume}\" on device \"%{BACULA_DEVICE}\" \(%{BACULA_DEVICEPATH}\)",
    "BACULA_LOG_NOOPENDIR": r"\s*Could not open directory %{DATA:directory}: ERR=%{GREEDYDATA:berror}",
    "BACULA_LOG_NOSTAT": r"\s*Could not stat %{DATA:filename}: ERR=%{GREEDYDATA:berror}",
    "BACULA_LOG_ALL_RECORDS_PRUNED": r"All records pruned from Volume \"%{BACULA_VOLUME:volume}\"; marking it \"Purged\"",
    "BACULA_LOG_STARTRESTORE": r"Start Restore Job %{BACULA_JOB:job}",
    "BACULA_LOG_USEDEVICE": r"Using Device \"%{BACULA_DEVICE:device}\"",
    "BACULA_LOG_DIFF_FS": r"\s*%{UNIXPATH} is a different filesystem. Will not descend from %{UNIXPATH} into it.",
    "BACULA_LOG_VOLUME_PREVWRITTEN": r"Volume \"%{BACULA_VOLUME:volume}\" previously written, moving to end of data.",
    "BACULA_LOG_READYAPPEND": r"Ready to append to end of Volume \"%{BACULA_VOLUME:volume}\" size=%{INT}",
    "BACULA_LOG_MARKCANCEL": r"JobId %{INT:job_id}, Job %{BACULA_JOB:job} marked to be canceled.",
    "BACULA_LOG_VSS": r"(Generate )?VSS (Writer)?",
    "BACULA_LOG_MAXSTART": r"Fatal error: Job canceled because max start delay time exceeded.",
    "BACULA_LOG_NOJOBSTAT": r"Fatal error: No Job status returned from FD.",
    "BACULA_LOG_FATAL_CONN": r"Fatal error: bsock.c:133 Unable to connect to (Client: %{BACULA_HOST:client}|Storage daemon) on %{HOSTNAME}:%{POSINT}. ERR=%{GREEDYDATA:berror}",
    "BACULA_LOG_NO_CONNECT": r"Warning: bsock.c:127 Could not connect to (Client: %{BACULA_HOST:client}|Storage daemon) on %{HOSTNAME}:%{POSINT}. ERR=%{GREEDYDATA:berror}",
    "BACULA_LOG_NO_AUTH": r"Fatal error: Unable to authenticate with File daemon at %{HOSTNAME}. Possible causes:",
    "BACULA_LOG_NOSUIT": r"No prior or suitable Full backup found in catalog. Doing FULL backup.",
    "BACULA_LOG_NOPRIOR": r"No prior Full backup Job record found.",
    "BACULA_LOG_JOB": r"(Error: )?Bacula %{BACULA_HOST} %{BACULA_VERSION} \(%{BACULA_VERSION}\):",
    "BACULA_LOGLINE": (
        r"%{BACULA_TIMESTAMP:bts} %{BACULA_HOST:hostname} JobId %{INT:jobid}: "
        r"(?:%{BACULA_LOG_MAX_CAPACITY}|%{BACULA_LOG_END_VOLUME}|%{BACULA_LOG_NEW_VOLUME}|"
        r"%{BACULA_LOG_NEW_LABEL}|%{BACULA_LOG_WROTE_LABEL}|%{BACULA_LOG_NEW_MOUNT}|"
        r"%{BACULA_LOG_NOOPEN}|%{BACULA_LOG_NOOPENDIR}|%{BACULA_LOG_NOSTAT}|"
        r"%{BACULA_LOG_NOJOBS}|%{BACULA_LOG_ALL_RECORDS_PRUNED}|"
        r"%{BACULA_LOG_BEGIN_PRUNE_JOBS}|%{BACULA_LOG_BEGIN_PRUNE_FILES}|"
        r"%{BACULA_LOG_PRUNED_JOBS}|%{BACULA_LOG_PRUNED_FILES}|%{BACULA_LOG_ENDPRUNE}|"
        r"%{BACULA_LOG_STARTJOB}|%{BACULA_LOG_STARTRESTORE}|%{BACULA_LOG_USEDEVICE}|"
        r"%{BACULA_LOG_DIFF_FS}|%{BACULA_LOG_JOBEND}|%{BACULA_LOG_NOPRUNE_JOBS}|"
        r"%{BACULA_LOG_NOPRUNE_FILES}|%{BACULA_LOG_VOLUME_PREVWRITTEN}|"
        r"%{BACULA_LOG_READYAPPEND}|%{BACULA_LOG_CANCELLING}|%{BACULA_LOG_MARKCANCEL}|"
        r"%{BACULA_LOG_CLIENT_RBJ}|%{BACULA_LOG_VSS}|%{BACULA_LOG_MAXSTART}|"
        r"%{BACULA_LOG_DUPLICATE}|%{BACULA_LOG_NOJOBSTAT}|%{BACULA_LOG_FATAL_CONN}|"
        r"%{BACULA_LOG_NO_CONNECT}|%{BACULA_LOG_NO_AUTH}|%{BACULA_LOG_NOSUIT}|"
        r"%{BACULA_LOG_NOPRIOR})"
    ),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]@]+))?(?::(\w+))?\}")
_MAX_DEPTH = 50

# Oniguruma POSIX bracket classes → Python/Java class bodies. Upstream
# patterns write these inside character classes ([[:alnum:]_-]); Python
# re and Java regex lack the syntax, so the compiler substitutes the
# equivalent ASCII ranges (grok semantics are ASCII here). Possessive
# quantifiers (a++/a*+/a?+) and atomic groups ((?>...)) need NO
# translation: Python >= 3.11 and Java support both natively.
_POSIX_CLASSES = {
    "alnum": "0-9A-Za-z",
    "alpha": "A-Za-z",
    "blank": " \\t",
    "cntrl": "\\x00-\\x1f\\x7f",
    "digit": "0-9",
    "graph": "\\x21-\\x7e",
    "lower": "a-z",
    "print": "\\x20-\\x7e",
    "punct": "!-/:-@\\[-`{-~",
    "space": "\\s",
    "upper": "A-Z",
    "word": "\\w",
    "xdigit": "0-9A-Fa-f",
}
_POSIX_REF = re.compile(r"\[:(\^?)([a-z]+):\]")


def translate_posix_classes(pattern: str) -> str:
    """Substitute ``[:name:]`` tokens with their ASCII class bodies.
    Negated forms (``[:^alpha:]``) have no safe inline equivalent inside
    a larger class — rejected loudly rather than silently mis-matching."""

    def repl(m: re.Match) -> str:
        neg, name = m.group(1), m.group(2)
        if name not in _POSIX_CLASSES:
            raise ValueError(f"unknown POSIX class [:{name}:]")
        if neg:
            raise ValueError(
                f"negated POSIX class [:^{name}:] is unsupported — "
                f"rewrite as an explicit negated character class"
            )
        return _POSIX_CLASSES[name]

    return _POSIX_REF.sub(repl, pattern)


# Oniguruma/grok.rb inline named capture: ``(?<queue_id>[0-9A-F]+)`` —
# the idiom grok.rb documents for one-off captures. Python re spells it
# ``(?P<name>``; lookbehinds ``(?<=`` / ``(?<!`` must NOT be rewritten.
_ONIG_NAMED = re.compile(r"\(\?<(?![=!])")


def _py_dialect(pattern: str) -> str:
    return _ONIG_NAMED.sub("(?P<", pattern)


@dataclass
class CompiledGrok:
    regex: re.Pattern
    # ordered mapping: output field → (regex group names to coalesce, type)
    fields: dict[str, tuple[list[str], str]] = field(default_factory=dict)


def _sanitize(name: str) -> str:
    # semantic names may be [a][b] refs; flatten for struct-field safety
    return re.sub(r"[^\w]", "_", name.strip("[]").replace("][", "_"))


def compile_grok(
    pattern: str, extra_patterns: dict[str, str] | None = None
) -> CompiledGrok:
    """Expand ``%{NAME:field:type}`` refs into one Python regex.

    Output fields come from two sources, matching grok.rb: ``%{NAME:
    semantic[:type]}`` refs AND inline named captures ``(?<name>…)``
    (Oniguruma spelling translated to ``(?P<name>``) — whether written
    in the user pattern or inside a library pattern (the RAILS family
    carries its controller/action/timestamp captures this way)."""
    lib = dict(CORE_PATTERNS)
    if extra_patterns:
        lib.update({k: _py_dialect(v) for k, v in extra_patterns.items()})
    pattern = _py_dialect(pattern)

    fields: dict[str, tuple[list[str], str]] = {}
    counter = [0]

    def expand(pat: str, depth: int) -> str:
        if depth > _MAX_DEPTH:
            raise ValueError("grok pattern recursion too deep")

        def repl(m: re.Match) -> str:
            name, semantic, typ = m.group(1), m.group(2), m.group(3)
            if name not in lib:
                raise ValueError(f"unknown grok pattern %{{{name}}}")
            inner = expand(lib[name], depth + 1)
            if semantic:
                out_field = _sanitize(semantic)
                counter[0] += 1
                gname = f"g{counter[0]}"
                groups, old_typ = fields.get(out_field, ([], "string"))
                groups.append(gname)
                fields[out_field] = (groups, typ or old_typ)
                return f"(?P<{gname}>{inner})"
            return f"(?:{inner})"

        return _GROK_REF.sub(repl, pat)

    expanded = translate_posix_classes(expand(pattern, 0))
    try:
        compiled = re.compile(expanded)
    except re.error as e:
        # requires-python is >=3.11 (possessive quantifiers / atomic
        # groups landed in 3.11 re), but surface a dialect-level message
        # rather than a raw sre error if a construct still misses.
        raise ValueError(
            f"grok pattern uses a regex construct unsupported by this "
            f"Python re dialect ({e}); possessive quantifiers and atomic "
            f"groups need Python >= 3.11, negated POSIX classes and "
            f"Oniguruma callouts are unsupported by design"
        ) from e
    # inline named captures ((?<name>…) / (?P<name>…), in the user
    # pattern or a library pattern like RAILS3) are output fields too —
    # grok.rb emits them exactly like %{X:name} refs, always as string
    for gname in compiled.groupindex:
        if not re.fullmatch(r"g\d+", gname):
            out_field = _sanitize(gname)
            groups, typ = fields.get(out_field, ([], "string"))
            if gname not in groups:
                groups.append(gname)
            fields[out_field] = (groups, typ)
    return CompiledGrok(regex=compiled, fields=fields)


def lower_multi_capture(
    compiled: list[CompiledGrok],
) -> tuple[list[tuple[str, dict[str, list[int]]]], dict[str, str]]:
    """Native lowering of a pattern list: per pattern, its Java regex
    and {field: [group index, ...]}; plus {field: type} over the list in
    output order, the type from the first pattern that has the field.
    The grok stage evaluates each pattern as one ``rlike`` plus one
    pass that extracts its groups, all whole-stage-codegen JVM.

    In the Java spelling named groups become plain groups (the
    numbering is unchanged), ``re.DOTALL`` becomes ``(?s)``, and
    UNIX_LINES ``(?d)`` keeps ``\\n`` the only line end for ``.``,
    ``^`` and ``$``, as in Python re and Ruby (Java's default also
    stops at ``\\r``, ``\\u0085``, ``\\u2028`` and ``\\u2029``). Java
    rejects any Python-only syntax left over (a ``(?P=name)``
    backreference); the grok stage compiles each pattern in the JVM at
    plan time to say so."""
    lowered: list[tuple[str, dict[str, list[int]]]] = []
    types: dict[str, str] = {}
    for cg in compiled:
        java_pat = cg.regex.pattern
        for gname in cg.regex.groupindex:
            java_pat = java_pat.replace(f"(?P<{gname}>", "(")
        java_pat = ("(?sd)" if cg.regex.flags & re.DOTALL else "(?d)") + java_pat
        groups = {f: [cg.regex.groupindex[g] for g in gs]
                  for f, (gs, _t) in cg.fields.items()}
        lowered.append((java_pat, groups))
        for f, (_gs, typ) in cg.fields.items():
            types.setdefault(f, typ)
    return lowered, types
